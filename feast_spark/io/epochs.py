"""The one commit protocol for every directory layer.

Persisted indexes (BM25 ``operators/bm25.py``, minhash
``operators/minhash_index.py``, IVF / IVF-PQ ``operators/similarity.py``
and ``operators/pq_index.py``) and versioned parquet snapshot tables
(``io/manifest.py``: the online store, training datasets, sketch and
decayed-feature rollups) all publish through this module:

    <root>/
        _MANIFEST.json              head: the layer's manifest plus
                                    ``commit_seq`` and ``committed_at``
        _history/commit_seq=N.json  every commit, archived before its
                                    head flip (time travel, ``as_of=N``)
        _TAGS.json                  named pins ``{name: commit_seq}``

* writers stage write-once data directories first (``epoch=N`` under
  an index's sub-tables, ``v_<n>`` for a snapshot table), then
  :func:`commit_manifest` atomically rewrites the head — readers
  resolve the head, so a crashed writer's partial directories are
  invisible;
* compare-and-swap: a manifest carrying the ``commit_seq`` it was
  derived from commits only if the head is still at that seq, else
  :class:`ConcurrentCommitError`; a manifest without one (a build, a
  blind overwrite) commits unconditionally but still bumps the seq;
* retention is one expire-then-delete sequence (:func:`vacuum`): the
  keep set is the last N commits, the head and every tagged commit;
  archived manifests outside it expire FIRST, then the layer deletes
  data directories no kept commit references — so a failed delete or a
  crash never leaves an archived seq whose directories are gone;
* one tag-name rule (:func:`check_tag_name`) and one tag table for
  every layer; tags pin commits outside the retention window.

The registry (``registry.py``) is a client too, with one difference:
its head is a file, not ``<root>/_MANIFEST.json``.  Every function a
client of a file head calls takes that file as ``head_file``;
:func:`head_path` is the one place that resolves a layer's head.

Each layer keeps its own manifest SCHEMA (an index's epoch list and
model pointers, a snapshot table's ``current`` version, the registry's
object lists); this module owns only the protocol mechanics.
"""

from __future__ import annotations

import json
import posixpath
import time
from collections.abc import Callable
from datetime import datetime, timezone

from feast_spark.io.fs import LocalFS, StoreFS

MANIFEST = "_MANIFEST.json"
HISTORY_DIR = "_history"
TAGS = "_TAGS.json"

#: lost commit races a read-modify-write writer re-applies its change
#: over before it raises :class:`ConcurrentCommitError`
COMMIT_ATTEMPTS = 4


def head_path(path: str, head_file: str | None = None) -> str:
    """Where the layer rooted at ``path`` keeps its head: ``head_file``
    when the layer names one (the registry file), else
    ``<path>/_MANIFEST.json``."""
    return head_file or posixpath.join(path, MANIFEST)


def history_manifest_path(path: str, seq: int) -> str:
    """Where commit ``seq``'s archived manifest lives — the one owner
    of the archive layout (CLI and tools resolve through this)."""
    return posixpath.join(path, HISTORY_DIR, f"commit_seq={seq}.json")


def retention_lock(path: str, fs: StoreFS, head_file: str | None = None):
    """The lock every retention-affecting writer must hold: tag /
    delete_tag / :func:`vacuum` all serialize on it, so a tag committed
    while a vacuum computes its keep set cannot end up pinned to a
    commit that vacuum then expires — the race would silently violate
    the 'tagged commits are vacuum-immune' contract.  It is the same
    lock :func:`commit_manifest` takes; ``LocalFS.lock`` is an
    ``flock`` and not reentrant, so never nest it."""
    return fs.lock(head_path(path, head_file))


def check_tag_name(name: str, what: str = "tag name") -> None:
    """The one tag-name rule: non-empty, non-numeric (a digit-only tag
    would be ambiguous with a literal seq in ``as_of=``), and free of
    ``=`` and ``,`` (both break the ``doctor --history`` rendering)."""
    if not name or name.isdigit() or "=" in name or "," in name:
        raise ValueError(
            f"{what} {name!r} must be non-empty, non-numeric and free "
            "of '=' and ','"
        )


def commit_seq_of(manifest: dict) -> int:
    """A head's ``commit_seq``, else the ``seq`` a head written before
    this protocol counted with (numbering continues, so an old recorded
    seq never names a new version), else 0: before the first commit."""
    return manifest.get("commit_seq", manifest.get("seq", 0))


def current_head(
    path: str, fs: StoreFS, head_file: str | None = None
) -> dict:
    """The committed head; ``{}`` before the first commit."""
    hp = head_path(path, head_file)
    return json.loads(fs.read_bytes(hp)) if fs.exists(hp) else {}


def head_commit_seq(
    path: str, fs: StoreFS, head_file: str | None = None
) -> int:
    """The committed head's seq (:func:`commit_seq_of`)."""
    return commit_seq_of(current_head(path, fs, head_file))


def served_seqs(
    path: str,
    fs: StoreFS,
    head_seq: int | None = None,
    head_file: str | None = None,
) -> list[int]:
    """:func:`history_seqs` at or below the head's seq (``head_seq``,
    read from disk when None).  An archived seq above the head is a
    crashed commit's orphan — archived, never flipped, never served —
    so as-of reads, tags and retention ignore it until the next commit
    claims that seq and overwrites it."""
    if head_seq is None:
        head_seq = head_commit_seq(path, fs, head_file)
    return [s for s in history_seqs(path, fs) if s <= head_seq]


def served_manifests(
    path: str, fs: StoreFS, head_file: str | None = None
) -> list[dict]:
    """The served commits' archived manifests, oldest first (a seq a
    concurrent vacuum expired mid-listing is skipped)."""
    hps = [
        history_manifest_path(path, s)
        for s in served_seqs(path, fs, head_file=head_file)
    ]
    return [json.loads(fs.read_bytes(hp)) for hp in hps if fs.exists(hp)]


def manifest_at(
    manifests: list[dict], instant: datetime, where: str, what: str
) -> dict:
    """The latest of ``manifests`` (:func:`served_manifests`) committed
    at or before ``instant`` (naive = UTC), Delta's ``TIMESTAMP AS OF``;
    an instant past the last commit resolves to it.  Raises when the
    instant predates the oldest retained commit, and when the commit
    after the resolved one expired: tag pins leave gaps in the log, and
    the version live at ``instant`` may be among the expired seqs."""
    if not manifests:
        raise ValueError(
            f"no commit history at {where} — it predates commit logging "
            "(its next commit starts the log) or was never committed"
        )
    ts = instant if instant.tzinfo else instant.replace(tzinfo=timezone.utc)
    idx = max(
        (i for i, m in enumerate(manifests)
         if m["committed_at"] <= ts.timestamp()),
        default=None,
    )
    seqs = [m["commit_seq"] for m in manifests]
    if idx is None:
        oldest = datetime.fromtimestamp(
            manifests[0]["committed_at"], tz=timezone.utc
        )
        raise ValueError(
            f"no {what} at {where} as of {instant}: the oldest retained "
            f"commit is seq={seqs[0]} at {oldest:%Y-%m-%d %H:%M:%S}Z — "
            "older commits are past the retention window"
        )
    if idx + 1 < len(seqs) and seqs[idx + 1] > seqs[idx] + 1:
        raise ValueError(
            f"ambiguous instant at {where}: commits {seqs[idx] + 1}.."
            f"{seqs[idx + 1] - 1} expired, and the {what} live at "
            f"{instant} may be among them (retained seqs: "
            f"{', '.join(map(str, seqs))}) — resolve by commit seq or "
            "tag name instead"
        )
    return manifests[idx]


def read_tags(path: str, fs: StoreFS) -> dict[str, int]:
    """The layer's named commit tags: ``{name: commit_seq}``.  A tagged
    commit is PINNED — exempt from every vacuum retention window until
    the tag is deleted (the Iceberg table-tag discipline): 'the corpus
    the 2024-06 model trained on' stays reproducible while daily
    vacuums reclaim everything else."""
    tp = posixpath.join(path, TAGS)
    if not fs.exists(tp):
        return {}
    return {str(k): int(v) for k, v in json.loads(fs.read_bytes(tp)).items()}


def _window_text(avail: list[int]) -> str:
    return (
        f"archived commits: {avail[0]}..{avail[-1]}"
        if avail else "no archived commits"
    )


def tag_commit(path: str, fs: StoreFS | None, name: str, seq: int) -> None:
    """Pin ``commit_seq=seq`` under ``name``.  The seq must be a served
    commit with an archived manifest (and therefore resolvable data) —
    tagging an already-expired commit would pin a read that can never
    succeed.  Re-tagging an existing name moves it."""
    fs = fs or LocalFS()
    check_tag_name(name)
    tp = posixpath.join(path, TAGS)
    with retention_lock(path, fs):
        # existence checked INSIDE the lock: a vacuum holding it has
        # either finished (this seq survived or is gone — checked
        # against the post-vacuum truth) or has not started (it will
        # see this tag in its keep set) — never in between
        avail = served_seqs(path, fs)
        if seq not in avail:
            raise ValueError(
                f"cannot tag commit_seq={seq} at {path}: no archived "
                f"manifest ({_window_text(avail)}) — commits outside "
                "the history window cannot be pinned"
            )
        tags = read_tags(path, fs)
        tags[name] = int(seq)
        fs.write_bytes_atomic(tp, json.dumps(tags).encode())


def delete_tag(path: str, fs: StoreFS | None, name: str) -> None:
    """Unpin ``name`` — its commit joins the normal retention window
    and the NEXT vacuum may reclaim it.  Missing names raise (a cron
    deleting the wrong tag name should hear about it)."""
    fs = fs or LocalFS()
    tp = posixpath.join(path, TAGS)
    with retention_lock(path, fs):
        tags = read_tags(path, fs)
        if name not in tags:
            raise ValueError(
                f"no tag {name!r} at {path}; committed tags: "
                f"{sorted(tags)}"
            )
        del tags[name]
        fs.write_bytes_atomic(tp, json.dumps(tags).encode())


def resolve_as_of(
    path: str, fs: StoreFS, as_of: int | str
) -> int:
    """An ``as_of`` value as the commit seq it names: ints pass
    through, strings resolve through the tag table."""
    if isinstance(as_of, str):
        tags = read_tags(path, fs)
        if as_of not in tags:
            raise ValueError(
                f"no tag {as_of!r} at {path}; committed tags: "
                f"{sorted(tags)}"
            )
        return tags[as_of]
    return as_of


def history_seqs(path: str, fs: StoreFS) -> list[int]:
    """Sorted ``commit_seq`` values with an archived manifest under
    ``_history/`` — the index's time-travel window.  Bounded: one entry
    per commit, expired by vacuum down to its retention window."""
    base = posixpath.join(path, HISTORY_DIR)
    seqs = []
    for name in fs.list_files(base) if fs.exists(base) else []:
        if name.startswith("commit_seq=") and name.endswith(".json"):
            body = name[len("commit_seq="):-len(".json")]
            if body.isdigit():
                seqs.append(int(body))
    return sorted(seqs)


def read_manifest(
    path: str,
    fs: StoreFS,
    required_keys: tuple[str, ...] = ("epochs",),
    kind: str = "index",
    kind_id: str | None = None,
    as_of_seq: int | str | None = None,
    head_file: str | None = None,
) -> dict:
    """Load and validate the committed manifest.  A manifest missing
    ``required_keys`` — e.g. one written by an older, incompatible
    layout of the same index — raises the same friendly ValueError as
    a missing index rather than a downstream KeyError.

    ``kind_id`` is the positive cross-kind guard: builders stamp their
    manifest with ``"kind"`` and readers pass their own id, so a path
    rebuilt as a DIFFERENT index kind fails loudly even when the
    required keys happen to overlap (every kind writes ``epochs``, so
    key checks alone cannot distinguish e.g. a stale IVF reader from a
    fresh IVFPQ manifest).  Manifests predating the stamp (no ``kind``
    key) are accepted for backward compatibility.

    ``as_of_seq`` resolves the ARCHIVED manifest of that commit instead
    of the head — time travel, the Delta/Iceberg ``VERSION AS OF``
    discipline: every ``commit_manifest`` archives its result under
    ``_history/commit_seq=N.json``, and because epoch directories are
    write-once, a historical manifest's epoch list reads exactly the
    bytes head served at commit N (until vacuum expires the retention
    window — the error then names the surviving range).  Validation
    (required keys, kind stamp) applies to the archived manifest the
    same as to head, so travelling across a rebuild to a DIFFERENT
    index kind fails loudly rather than reading a foreign layout.
    A STRING ``as_of_seq`` resolves through the tag table
    (:func:`tag_commit`) — pinned named commits.  Seqs above the head
    (a crashed commit's orphan archive) do not resolve."""
    if as_of_seq is not None:
        as_of_seq = resolve_as_of(path, fs, as_of_seq)
        avail = served_seqs(path, fs, head_file=head_file)
        if as_of_seq not in avail:
            window = _window_text(avail) + (
                "" if avail else " (the table predates manifest "
                "history, or vacuum expired them all)"
            )
            raise ValueError(
                f"no {kind} manifest archived at {path} for "
                f"commit_seq={as_of_seq} — {window}; commits past the "
                "vacuum retention window are expired"
            )
        manifest = json.loads(fs.read_bytes(history_manifest_path(path, as_of_seq)))
    else:
        hp = head_path(path, head_file)
        if not fs.exists(hp):
            raise ValueError(f"no {kind} committed at {head_file or path}")
        manifest = json.loads(fs.read_bytes(hp))
    missing = [k for k in required_keys if k not in manifest]
    if missing:
        raise ValueError(
            f"no {kind} committed at {path}: manifest lacks "
            f"{missing} (incompatible or foreign layout)"
        )
    if (
        kind_id is not None
        and "kind" in manifest
        and manifest["kind"] != kind_id
    ):
        raise ValueError(
            f"no {kind} committed at {path}: the committed manifest is a "
            f"{manifest['kind']!r} index (rebuilt as a different kind?)"
        )
    return manifest


class ConcurrentCommitError(RuntimeError):
    """A manifest flip raced another writer: the committed head is no
    longer the manifest this write derived from.  Plain ``os.replace``
    would resolve the race as silent last-writer-wins (lost epochs,
    lost snapshot rows, lost pair stamps); this error makes it loud.
    Re-read the head and re-apply the change, or fix the duplicated
    writer."""


def commit_manifest(
    path: str, fs: StoreFS, manifest: dict, head_file: str | None = None
) -> dict:
    """Atomically publish ``manifest`` — with optimistic concurrency
    for every read-modify-write flow — and return the committed head.

    Every committed manifest carries a monotonically increasing
    ``commit_seq`` and its ``committed_at`` wall clock, both stamped
    under the lock, so seq order and time order agree.  Writers that
    derive their manifest from the committed head (index appends,
    compacts, meta stamps built as ``{**read_manifest, ...}``; snapshot
    writers passing ``base_seq``) carry the head's ``commit_seq``
    along, and this function treats that carried value as the expected
    parent: if the committed head has moved past it, the flip raises
    :class:`ConcurrentCommitError` instead of silently discarding the
    other writer's work.  An empty path's head is seq 0.  Fresh
    manifests without a ``commit_seq`` (index BUILDS — including
    rebuild-over-existing, where ``carried_meta``'s allowlist
    deliberately drops the seq — and blind snapshot overwrites)
    overwrite unconditionally, and still bump the seq so any in-flight
    writer that read the old head fails its CAS.

    The check-then-rename window is closed entirely on LocalFS (an
    flock around the read+compare+replace); on object stores
    ``StoreFS.lock`` defaults to a no-op and a production deployment
    maps the compare to the store's conditional put (S3 ``If-Match``,
    GCS ``ifGenerationMatch``) — SCALE.md documents the mapping.
    Manifests written before this protocol carry no seq; protection
    engages from their first re-commit."""
    hp = head_path(path, head_file)
    expected = manifest.get("commit_seq")
    with fs.lock(hp):
        current = head_commit_seq(path, fs, head_file)
        if expected is not None and current != expected:
            raise ConcurrentCommitError(
                f"manifest at {path} moved from commit_seq={expected} to "
                f"{current} since it was read — another writer committed "
                "in between.  Re-read the manifest and re-apply, or "
                "remove the duplicate writer."
            )
        out = {
            **manifest,
            "commit_seq": current + 1,
            "committed_at": time.time(),
        }
        data = json.dumps(out).encode()
        # archive BEFORE the head flip so a committed head always has
        # its history entry (time travel to the head seq never 404s).
        # A crash between the two writes leaves an orphan history file
        # for a seq head never reached: readers ignore seqs above the
        # head (served_seqs), and the next commit computes the same seq
        # from head and atomically overwrites the orphan.
        fs.write_bytes_atomic(
            history_manifest_path(path, out["commit_seq"]), data
        )
        fs.write_bytes_atomic(hp, data)
    return out


# the sidecar keys a rebuild preserves from a pre-existing manifest
CARRY_KEYS = ("stream_epoch",)


def carried_meta(
    path: str, fs: StoreFS, carry_keys: tuple[str, ...] = CARRY_KEYS
) -> dict:
    """The ALLOWLISTED sidecar keys of the manifest already committed
    at ``path``, if any.  Rebuild-over-existing-index carries these
    forward into the fresh manifest so sidecar state survives —
    concretely the streaming sink's ``stream_epoch`` watermark: a
    rebuild that dropped it would let a crash-replay straddling the
    rebuild re-append a micro-batch whose docs the rebuild corpus
    already contains (``streaming/index_sink.py`` promises the
    watermark survives non-streaming commits).

    An allowlist, NOT everything-but-my-structural-keys: rebuilding a
    path as a DIFFERENT index kind must not drag the old kind's
    structural keys (e.g. minhash ``params``) into the new manifest —
    that would let the old kind's readers pass ``read_manifest``
    validation and silently read the STALE pre-rebuild epoch
    directories, instead of failing loudly with the
    incompatible-layout error.  (The ``kind`` stamp guards that too,
    but only for manifests new enough to carry it.)  The accepted
    trade-off: user sidecar keys written via ``*_index_append(meta=)``
    survive appends and compacts ({**manifest, ...}) but NOT a
    rebuild — a rebuild is a new index over a new corpus, so stale
    per-corpus annotations are dropped by design; re-attach them via
    the first append's ``meta`` if they still apply."""
    manifest = current_head(path, fs)
    return {k: manifest[k] for k in carry_keys if k in manifest}


def next_epoch(
    path: str, fs: StoreFS, committed: list[int], subdirs: tuple[str, ...]
) -> int:
    """Number past every committed epoch AND every orphaned directory a
    crashed writer may have left under any sub-table."""
    seen = set(committed)
    for sub in subdirs:
        base = posixpath.join(path, sub)
        for d in fs.list_subdirs(base) if fs.exists(base) else []:
            if d.startswith("epoch=") and d[6:].isdigit():
                seen.add(int(d[6:]))
    return (max(seen) + 1) if seen else 0


def retention_window(
    path: str,
    fs: StoreFS,
    retain_last: int,
    head_seq: int | None = None,
    read_manifests: bool = True,
    served: list[int] | None = None,
) -> tuple[set[int], set[int], list[dict]]:
    """The vacuum retention window: ``(protected_epochs, keep_seqs,
    retained_manifests)`` covering the ``retain_last`` most recent
    served commits, the head (``head_seq``, read from disk when None —
    always kept so ``as_of=head`` never expires) and every tagged
    commit; ``retained_manifests`` are their archived manifests in seq
    order (not read, and empty, without ``read_manifests``).  Epochs
    any retained manifest references are PROTECTED from vacuum — the
    Iceberg expire-snapshots discipline: the time-travel window and the
    in-flight-reader grace window are the same mechanism, because a
    reader that resolved manifest N scans exactly the directories
    manifest N lists.  ``served`` is :func:`served_seqs` when the
    caller already listed it."""
    if retain_last < 0:
        raise ValueError(f"retain_last must be >= 0, got {retain_last}")
    if head_seq is None:
        head_seq = head_commit_seq(path, fs)
    seqs = served_seqs(path, fs, head_seq) if served is None else served
    keep = set(seqs[-retain_last:]) if retain_last > 0 else set()
    if head_seq:
        keep.add(head_seq)
    # tagged commits are pinned OUTSIDE the sliding window: they stay
    # readable through any number of vacuums until the tag is deleted
    keep.update(read_tags(path, fs).values())
    protected: set[int] = set()
    manifests: list[dict] = []
    for s in sorted(keep) if read_manifests else []:
        hp = history_manifest_path(path, s)
        if not fs.exists(hp):
            continue  # a pre-history head has no archive entry
        m = json.loads(fs.read_bytes(hp))
        manifests.append(m)
        protected.update(m.get("epochs", []))
    return protected, keep, manifests


def expire_history(
    path: str,
    fs: StoreFS,
    keep_seqs: set[int],
    head_file: str | None = None,
    served: list[int] | None = None,
) -> list[int]:
    """Delete the served commits' archived manifests outside
    ``keep_seqs``; returns the expired seqs.  :func:`vacuum` runs it
    BEFORE any data directory is deleted, so every archived seq that
    survives a failed delete or a crash still has all of its
    directories, and an expired target fails with the friendly range
    error instead of a missing-path read mid-scan.  ``served`` is
    :func:`served_seqs` when the caller already listed it."""
    if served is None:
        served = served_seqs(path, fs, head_file=head_file)
    removed = []
    for s in served:
        if s not in keep_seqs:
            fs.delete(history_manifest_path(path, s))
            removed.append(s)
    return removed


def vacuum(
    path: str,
    fs: StoreFS,
    retain_last: int,
    read_head: Callable[[], dict],
    sweep: Callable[[dict, set[int], list[dict]], object] | None,
    head_file: str | None = None,
) -> tuple[list[int], object]:
    """The one retention sequence for every layer, under
    :func:`retention_lock`: read the head, compute the keep set
    (:func:`retention_window`), expire the archive outside it, then
    ``sweep(head, protected_epochs, retained_manifests)`` deletes the
    layer's data directories that no kept commit references.  A layer
    without data directories (the registry) passes ``sweep=None`` and
    the kept manifests are never read.  One head read and one archive
    listing serve the whole pass.  Returns ``(expired_seqs,
    sweep_result)``."""
    with retention_lock(path, fs, head_file):
        head = read_head()
        head_seq = commit_seq_of(head)
        served = served_seqs(path, fs, head_seq)
        protected, keep, retained = retention_window(
            path, fs, retain_last, head_seq, sweep is not None, served
        )
        expired = expire_history(path, fs, keep, served=served)
        if sweep is None:
            return expired, None
        return expired, sweep(head, protected, retained)


def vacuum_epochs(
    path: str,
    fs: StoreFS | None,
    live_epochs: list[int],
    subdirs: tuple[str, ...],
    protect_epochs: set[int] | frozenset[int] = frozenset(),
) -> dict[str, list[str]]:
    """Delete ``epoch=*`` directories not in ``live_epochs`` (nor in
    ``protect_epochs`` — the retention window's time-travel targets)
    under each sub-table; returns {subdir: [removed, ...]}."""
    fs = fs or LocalFS()
    live = {f"epoch={e}" for e in [*live_epochs, *protect_epochs]}
    removed: dict[str, list[str]] = {sub: [] for sub in subdirs}
    for sub in subdirs:
        base = posixpath.join(path, sub)
        for d in fs.list_subdirs(base) if fs.exists(base) else []:
            if d.startswith("epoch=") and d not in live:
                fs.delete(posixpath.join(base, d))
                removed[sub].append(d)
    return {k: sorted(v) for k, v in removed.items()}


def epoch_paths(path: str, sub: str, epochs: list[int]) -> list[str]:
    return [posixpath.join(path, sub, f"epoch={e}") for e in epochs]
