"""Incremental corpus near-dup index: persist MinHash band buckets and
hashed shingles once, then dedup each new crawl slice against the
corpus WITHOUT re-minhashing it.

The real 100 TB dedup workload is not "dedup this corpus once" — it is
"dedup this week's crawl against everything already kept".
``minhash_dedup_pairs`` (operators/docdedup.py) re-shingles and
re-signs the whole corpus per run; this module pays that cost once per
document, ever:

* ``{root}/bands/epoch=N/``    — (doc, band, bucket) LSH band buckets
* ``{root}/shingles/epoch=N/`` — (doc, shingles: array<long>) for the
  exact-Jaccard verify of candidate pairs
* ``{root}/_MANIFEST.json``    — committed epoch list + the signature
  parameters (n, num_hashes, bands, method), so appends and queries
  can never mix incompatible signatures

Commit protocol (epoch-append variant of ``io/manifest.py``): a writer
stages the new epoch's directories first, then atomically rewrites the
manifest to include the epoch.  Readers resolve the manifest and read
ONLY the committed epoch directories — a crashed append's partial
files are invisible (their epoch is never listed), which upgrades on
the plain ``ivf_index_append`` append (documented non-atomic) while
keeping the O(new docs) append cost: history is never rewritten.
Epoch numbering makes appends single-writer, like every append index.

Scale shape of ``dedup_against_index``: the index's band table is
semi-joined down to the buckets the new batch touches (shuffle
equi-join on (band, bucket) — nothing is broadcast, unlike the
streaming marker's documented ~1e8-doc broadcast bound), pairs expand
inside capped buckets, and only candidate docs' shingles are read for
the verify.  Per-slice cost is O(new docs + touched-bucket postings),
independent of corpus size.

Reference parity: Feast has no dedup operators; this is part of the
training-data-pipeline extension (SURVEY §2.6), the lexical analog of
``similarity.ivf_index_append`` for the dedup family.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS, StoreFS
from feast_spark.operators.docdedup import (
    _bucket_pairs,
    _persist,
    band_bucket_array,
    widen_parallelism,
    with_hashed_shingles,
    with_minhash,
    with_minhash_oph,
    with_shingles,
)

__all__ = [
    "build_minhash_index",
    "minhash_index_append",
    "dedup_against_index",
    "minhash_index_stats",
    "minhash_index_compact",
    "minhash_index_vacuum",
]

MANIFEST = "_MANIFEST.json"
_SUBDIRS = ("bands", "shingles")


def _manifest(
    root: str, fs: StoreFS, as_of: int | str | None = None
) -> dict:
    return epochs_io.read_manifest(
        root,
        fs,
        required_keys=("epochs", "params"),
        kind="minhash index",
        kind_id="minhash",
        as_of_seq=as_of,
    )


def _doc_tables(
    df: DataFrame, id_col: str, text_col: str, params: dict
) -> tuple[DataFrame, DataFrame]:
    """(bands, shingles) for a batch of documents under the index's
    signature parameters — the one pass per document the index ever
    pays.  Shingle hashing and band bucketing share the expressions
    of the inline pipeline (``band_bucket_array``), so index pairs
    equal ``lsh_candidate_pairs`` pairs exactly."""
    n = params["n"]
    num_hashes = params["num_hashes"]
    bands = params["bands"]
    rows_per_band = num_hashes // bands
    portable = params.get("portable", False)
    if portable:
        # engine-portable signatures (md5 base + affine re-hash, raw
        # band-string buckets), mirroring minhash_dedup_pairs
        # (portable=True) — the driver oracle reproduces them in SQL.
        # Stored shingles are still xxhash64 longs (same fixed-width
        # verify as the inline portable path; Jaccard unchanged up to
        # ~2^-64 collisions), so the verify join shape is identical in
        # both modes.  ``method`` is ignored, as in the inline twin.
        sh = with_shingles(
            widen_parallelism(df.select(id_col, text_col)), text_col, n
        )
        mh = with_minhash(sh, num_hashes=num_hashes, portable=True)
        shingles = sh.select(
            F.col(id_col).alias("doc"),
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("shingles"),
        )
    else:
        sh = with_hashed_shingles(
            widen_parallelism(df.select(id_col, text_col)), text_col, n
        )
        if params["method"] == "oph":
            mh = with_minhash_oph(sh, num_hashes=num_hashes, prehashed=True)
        else:
            mh = with_minhash(sh, num_hashes=num_hashes, prehashed=True)
        shingles = sh.select(F.col(id_col).alias("doc"), "shingles")
    from feast_spark.functions.text import posexplode_computed

    # posexplode_computed: keeps InferFiltersFromGenerate from
    # re-deriving the minhash signature in an inferred size() filter
    banded = posexplode_computed(
        mh,
        [F.col(id_col).alias("doc")],
        band_bucket_array(bands, rows_per_band, portable=portable),
        "band",
        "bucket",
    )
    return banded, shingles


def _next_epoch(root: str, fs: StoreFS, committed: list[int]) -> int:
    return epochs_io.next_epoch(root, fs, committed, _SUBDIRS)


def _write_epoch(
    root: str,
    epoch: int,
    banded: DataFrame,
    shingles: DataFrame,
) -> None:
    banded.write.mode("errorifexists").parquet(
        posixpath.join(root, "bands", f"epoch={epoch}")
    )
    shingles.write.mode("errorifexists").parquet(
        posixpath.join(root, "shingles", f"epoch={epoch}")
    )


def _commit(root: str, fs: StoreFS, manifest: dict) -> None:
    epochs_io.commit_manifest(root, fs, manifest)


def _read_epochs(
    spark: SparkSession, root: str, sub: str, epochs: list[int]
) -> DataFrame:
    from feast_spark.io.pread import read_parquet_memo

    return read_parquet_memo(spark, *epochs_io.epoch_paths(root, sub, epochs))


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    method: str = "kseed",
    portable: bool = False,
    fs: StoreFS | None = None,
) -> None:
    """Sign the corpus once and commit epoch 0.  Signature parameters
    are frozen into the manifest; appends reuse them (mixing signature
    schemes would silently produce disjoint buckets).  ``portable``
    freezes the engine-portable md5 signature family instead of
    xxhash64 (slower; for cross-engine value checks — ``method`` is
    then ignored, as in ``minhash_dedup_pairs``)."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    if method not in ("kseed", "oph"):
        raise ValueError(f"method must be 'kseed' or 'oph', got {method!r}")
    fs = fs or LocalFS()
    params = {
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "method": method,
        "portable": portable,
        "id_col": id_col,
        "text_col": text_col,
    }
    banded, shingles = _doc_tables(df, id_col, text_col, params)
    epoch = _next_epoch(path, fs, [])
    _write_epoch(path, epoch, banded, shingles)
    carried = epochs_io.carried_meta(path, fs)
    _commit(
        path, fs,
        {**carried, "kind": "minhash", "epochs": [epoch], "params": params},
    )


def minhash_index_append(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    fs: StoreFS | None = None,
    meta: dict | None = None,
) -> None:
    """Fold a new document slice into the index as a new epoch: one
    narrow pass over the NEW docs only (stage dirs, then the atomic
    manifest flip publishes them) — history is never rewritten.

    Doc-id uniqueness across epochs is the caller's contract (same as
    ``ivf_index_append``); the normal flow is dedup_against_index ->
    drop the near-dups -> append the survivors.  ``meta`` keys merge
    into the manifest in the same atomic flip (the streaming sink's
    epoch watermark; empty slices are a no-op)."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    params = manifest["params"]
    banded, shingles = _doc_tables(
        new_df, params["id_col"], params["text_col"], params
    )
    if banded.limit(1).count() == 0:
        # no-op on DERIVED band rows, not input rows (same discipline as
        # bm25_index_append's postings guard).  Unlike BM25 postings,
        # every doc here produces >= 1 band row regardless of text — the
        # short-doc guard in with_hashed_shingles signs blank/NULL texts
        # with a single whole-doc shingle (so identical empty docs still
        # cluster as duplicates, matching the inline pipeline) — so this
        # only fires for a zero-row slice; kept on the derived frame for
        # consistency and as a guard against future tokenizer changes.
        return
    epoch = _next_epoch(path, fs, manifest["epochs"])
    _write_epoch(path, epoch, banded, shingles)
    manifest = {**manifest, **(meta or {})}
    manifest["epochs"] = sorted(manifest["epochs"] + [epoch])
    _commit(path, fs, manifest)


def dedup_against_index(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
    fs: StoreFS | None = None,
    as_of: int | str | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jaccard) touching at least one NEW
    document: new-vs-corpus AND new-vs-new (a fresh slice usually
    carries its own internal dups), never corpus-vs-corpus (those were
    resolved when their epochs were appended).  Matches
    ``minhash_dedup_pairs`` over (corpus ∪ new) restricted to pairs
    with a new side — identity pinned by tests.

    Plan: the index band table is first semi-joined down to the
    (band, bucket) keys the new batch occupies — a shuffle equi-join
    whose moved bytes are the touched buckets' postings, NOT the
    index (and not a broadcast of it) — then pairs expand inside
    buckets capped at ``max_bucket_size`` over the COMBINED
    (corpus + new) bucket population, the same population the full
    recompute would cap on.  Only candidate docs' shingles are read
    back for the exact-Jaccard verify.

    New doc ids must be disjoint from the index's (append contract).
    ``as_of=commit_seq`` checks the new slice against the corpus AS OF
    that archived commit (params and epoch list both historical) —
    e.g. to reproduce exactly which docs a past ingestion run would
    have flagged."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs, as_of=as_of)
    params = manifest["params"]
    epochs = manifest["epochs"]
    id_col = params["id_col"]
    new_banded, new_sh = _doc_tables(
        new_df, id_col, params["text_col"], params
    )
    idx_banded = _read_epochs(spark, path, "bands", epochs)
    touched = new_banded.select("band", "bucket").distinct()
    idx_hit = idx_banded.join(touched, ["band", "bucket"], "leftsemi")
    allb = idx_hit.unionByName(new_banded)
    if max_bucket_size is not None:
        bw = Window.partitionBy("band", "bucket")
        allb = (
            allb.withColumn("__bsz", F.count(F.lit(1)).over(bw))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    grouped = allb.groupBy("band", "bucket").agg(
        F.collect_list("doc").alias("docs")
    )
    # NOTE: pairs still carries the post-band .distinct() (a pair can
    # collide in several bands); the deduped-pair DISTINCT here is the
    # multi-band one, not a new-id-restriction artifact.
    pairs = _bucket_pairs(grouped.filter(F.size("docs") > 1)).distinct()
    # keep pairs with >= 1 new side (corpus-vs-corpus pairs were
    # resolved at their own append time) in ONE pass over the pair
    # frame: two left joins against the distinct new-id set + an OR
    # filter.  The former two semi-join legs executed the whole
    # (unpersisted) pair pipeline twice and paid a distinct exchange
    # to merge them — pairs are unique already, and the left joins
    # preserve multiplicity (build side distinct), so the result set
    # is identical with no distinct at all (r17, same fusion as
    # semdedup_against_index).
    new_ids = new_df.select(F.col(id_col).alias("__nid")).distinct()
    na, nb = new_ids.alias("__mna"), new_ids.alias("__mnb")
    cands = _persist(
        pairs.join(na, pairs["id_a"] == F.col("__mna.__nid"), "left")
        .join(nb, pairs["id_b"] == F.col("__mnb.__nid"), "left")
        .filter(
            F.col("__mna.__nid").isNotNull()
            | F.col("__mnb.__nid").isNotNull()
        )
        .select("id_a", "id_b")
    )
    # candidate ids in one pass (explode, no distinct): a semi join
    # keeps probe-side set semantics under build-side duplicates
    cand_ids = cands.selectExpr("explode(array(id_a, id_b)) AS doc")
    # persisted: BOTH verify joins read this frame — unpersisted, the
    # epoch shingle read and the candidate semi-join ran twice (once
    # per side).  Candidate-bounded, like `cands` above.
    sh = _persist(
        _read_epochs(spark, path, "shingles", epochs)
        .unionByName(new_sh)
        .join(cand_ids, "doc", "semi")
    )
    # identical aliased build subtrees so the second fetch reuses the
    # first's broadcast (rename-based spellings canonicalize apart)
    va, vb = sh.alias("__mia"), sh.alias("__mib")
    return (
        cands.join(va, F.col("id_a") == F.col("__mia.doc"))
        .join(vb, F.col("id_b") == F.col("__mib.doc"))
        .select(
            "id_a", "id_b",
            F.col("__mia.shingles").alias("sh_a"),
            F.col("__mib.shingles").alias("sh_b"),
        )
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index_stats(
    spark: SparkSession, path: str, fs: StoreFS | None = None
) -> DataFrame:
    """Per-epoch doc counts plus the global hottest-bucket size — the
    monitoring signal for bucket-cap tuning (a growing hot bucket is
    boilerplate accumulating).  One aggregate over the band table."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    bands_df = spark.read.option(
        "basePath", posixpath.join(path, "bands")
    ).parquet(*epochs_io.epoch_paths(path, "bands", manifest["epochs"]))
    per_epoch = bands_df.groupBy("epoch").agg(
        F.countDistinct("doc").alias("n_docs"),
        F.count(F.lit(1)).alias("n_band_rows"),
    )
    hottest = bands_df.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("sz")
    ).agg(F.max("sz").alias("max_bucket_size"))
    return per_epoch.crossJoin(F.broadcast(hottest))


def minhash_index_compact(
    spark: SparkSession,
    path: str,
    fs: StoreFS | None = None,
) -> None:
    """Rewrite every committed epoch into ONE new epoch — no
    re-shingling, no re-signing, query results are byte-identical
    (pinned by tests).  Daily appends accumulate epoch directories and
    every query lists O(epochs) paths per table; compaction resets
    that to 1 while the signature parameters (and therefore every band
    bucket) stay frozen.

    Same commit protocol as append: stage the merged epoch dirs, then
    one atomic manifest flip from the old epoch list to ``[merged]``.
    A crash mid-compact leaves an orphan the next writer numbers past
    and ``minhash_index_vacuum`` deletes; readers never see a partial
    state.  Superseded epoch dirs stay on disk until vacuum (the
    Delta/Iceberg OPTIMIZE-then-VACUUM split), so readers already
    scanning the old manifest keep working."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    epochs = manifest["epochs"]
    if len(epochs) <= 1:
        return
    merged = _next_epoch(path, fs, epochs)
    _write_epoch(
        path,
        merged,
        _read_epochs(spark, path, "bands", epochs),
        _read_epochs(spark, path, "shingles", epochs),
    )
    _commit(path, fs, {**manifest, "epochs": [merged]})


def minhash_index_vacuum(
    path: str, fs: StoreFS | None = None, retain_last: int = 0
) -> dict:
    """Delete epoch directories the committed manifest no longer lists
    (compaction leftovers, crashed-append orphans).  Returns
    ``{"bands": [...], "shingles": [...], "history_expired": [...]}``.
    ``retain_last`` keeps the N most recent archived commits readable
    for ``dedup_against_index(as_of=seq)`` (the retention window is
    also the in-flight-reader grace window).  Run from the single
    writer once readers outside the window have drained (the
    Delta/Iceberg VACUUM contract); never touches a dir the current
    manifest references."""
    fs = fs or LocalFS()
    expired, removed = epochs_io.vacuum(
        path, fs, retain_last, lambda: _manifest(path, fs),
        lambda head, protected, _: epochs_io.vacuum_epochs(
            path, fs, head["epochs"], _SUBDIRS, protect_epochs=protected
        ),
    )
    removed["history_expired"] = [str(s) for s in expired]
    return removed
