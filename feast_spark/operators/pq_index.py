"""Persisted IVFPQ index — the memory-bound ANN scale path.

``similarity.build_ivf_index`` persists raw float vectors per cell;
fine when the corpus fits storage comfortably, but at 100 TB of
embeddings the index ITSELF is the cost.  This index stores PQ codes
instead (``operators/pq.py``: d*4 bytes -> M bytes per vector, 32x at
d=64/M=8), so the probed-cell read moves code bytes, not vectors, and
the ADC kernel never loads a float vector at all — the FAISS-IVFPQ
shape (Jégou et al. 2011) as a persisted, epoch-appendable table.

Layout (epoch-append protocol of ``io/epochs.py``, shared with the
BM25/minhash/IVF indexes):

- ``{path}/codes/epoch=N/cell=K/``: (id, codes array<int>), written
  ``partitionBy(cell)`` — queries read only probed cells' directories
- ``{path}/centroids/gen=G/``: the coarse quantizer (cell, centroid)
- ``{path}/codebooks/gen=G.json``: the PQ codebooks (atomic put)
- ``{path}/_MANIFEST.json``: committed epochs + BOTH model pointers —
  a rebuild flips epochs, quantizer and codebooks in one commit, so a
  reader never pairs new codebooks with codes encoded by old ones

Appends reuse the FROZEN quantizer and codebooks (O(new) encode +
one epoch write; the FAISS add() contract) — distribution drift
degrades recall, not correctness; watch cell skew via
:func:`ivfpq_index_stats` and rebuild when it drifts.

Reference parity: Feast has no ANN; training-data-pipeline extension
(SURVEY §2.6), the compressed sibling of ``similarity.build_ivf_index``.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS, StoreFS
from feast_spark.operators.pq import pq_encode, pq_topk, pq_train
from feast_spark.operators.similarity import (
    ivf_train_centroids,
    assign_nearest_centroid,
    probe_cells_py,
)

__all__ = [
    "build_ivfpq_index",
    "ivfpq_index_topk",
    "ivfpq_index_append",
    "ivfpq_index_stats",
    "ivfpq_index_compact",
    "ivfpq_index_vacuum",
]

_SUBDIRS = ("codes",)


def _manifest(
    path: str, fs: StoreFS, as_of: int | str | None = None
) -> dict:
    return epochs_io.read_manifest(
        path,
        fs,
        required_keys=("epochs", "centroids", "codebooks", "id_col", "vec_col"),
        kind="IVFPQ index",
        kind_id="ivfpq",
        as_of_seq=as_of,
    )


def _next_gen(path: str, fs: StoreFS) -> int:
    """Number past every centroid generation AND codebook file,
    committed or orphaned (a crashed rebuild's leftovers must not
    collide with the next one)."""
    seen = set()
    cbase = posixpath.join(path, "centroids")
    for d in fs.list_subdirs(cbase) if fs.exists(cbase) else []:
        if d.startswith("gen=") and d[4:].isdigit():
            seen.add(int(d[4:]))
    bbase = posixpath.join(path, "codebooks")
    for f in fs.list_files(bbase) if fs.exists(bbase) else []:
        if f.startswith("gen=") and f.endswith(".json") and f[4:-5].isdigit():
            seen.add(int(f[4:-5]))
    return (max(seen) + 1) if seen else 0


def _load_centroids(path: str, manifest: dict, fs: StoreFS) -> list[list[float]]:
    """The committed quantizer generation, read driver-side (shared
    ``similarity.read_centroid_dir``: no Spark job on the serving
    path)."""
    from feast_spark.operators.similarity import read_centroid_dir

    return read_centroid_dir(posixpath.join(path, manifest["centroids"]), fs)


def _load_codebooks(path: str, manifest: dict, fs: StoreFS):
    """Cached across queries (``io/model_cache.py``): codebook files
    are write-once under a generation name that ``_next_gen`` never
    reuses (it counts orphans too), so the committed pointer is a
    sound immutable key; a rebuild flips the pointer and misses."""
    from feast_spark.io import model_cache

    full = posixpath.join(path, manifest["codebooks"])

    def _load():
        raw = fs.read_bytes(full)
        return [
            [[float(x) for x in c] for c in book] for book in json.loads(raw)
        ]

    return model_cache.get_or_load(
        ("codebooks", fs.cache_token(), full), _load
    )


def _encode_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    books,
) -> DataFrame:
    from feast_spark.operators.docdedup import widen_parallelism

    # PQ encoding + cell assignment are the corpus-wide CPU pass and
    # run at the scan's partitioning: widen a small-file scan first
    # (no-op whenever the input already has >= cores files)
    return (
        pq_encode(
            widen_parallelism(
                df.select(
                    F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
                )
            ),
            books,
            vec_col="vec",
            out_col="codes",
        )
        .transform(
            lambda d: assign_nearest_centroid(d, "vec", cents, "cell")
        )
        .select("id", "codes", "cell")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    m_subspaces: int = 8,
    k_codes: int = 256,
    pq_iters: int = 10,
    sample_per_code: int = 32,
    fs: StoreFS | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Train quantizer + codebooks once, encode the corpus, commit
    epoch 0.  A rebuild over an existing index stages a new generation
    of BOTH models and a new epoch, then flips the manifest once;
    non-structural meta (the streaming sink's watermark) is carried
    forward.

    ``centroids`` / ``codebooks`` skip the respective training and use
    the given models (e.g. ``similarity.md5_centroids`` +
    ``pq.md5_codebooks``, the engine-portable pair the driver oracle
    re-derives in SQL); appends reuse whatever models the build
    committed, trained or given."""
    fs = fs or LocalFS()
    spark = corpus.sparkSession
    cents = (
        centroids
        if centroids is not None
        else ivf_train_centroids(
            corpus, id_col, vec_col, n_centroids, iters=iters
        )
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_train(
            corpus, vec_col=vec_col, id_col=id_col, m_subspaces=m_subspaces,
            k_codes=k_codes, iters=pq_iters, sample_per_code=sample_per_code,
        )
    )
    gen = _next_gen(path, fs)
    cent_rel = posixpath.join("centroids", f"gen={gen}")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("errorifexists").parquet(
        posixpath.join(path, cent_rel)
    )
    book_rel = posixpath.join("codebooks", f"gen={gen}.json")
    fs.write_bytes_atomic(
        posixpath.join(path, book_rel), json.dumps(books).encode()
    )
    epoch = epochs_io.next_epoch(path, fs, [], _SUBDIRS)
    (
        _encode_cells(corpus, id_col, vec_col, cents, books)
        # cluster by cell first: one code file per cell at any encode
        # parallelism (the similarity.build_ivf_index discipline)
        .repartition("cell")
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "codes", f"epoch={epoch}"))
    )
    carried = epochs_io.carried_meta(path, fs)
    epochs_io.commit_manifest(
        path,
        fs,
        {
            **carried,
            "kind": "ivfpq",
            "epochs": [epoch],
            "centroids": cent_rel,
            "codebooks": book_rel,
            "id_col": id_col,
            "vec_col": vec_col,
            # from the committed books, not the (possibly unused)
            # training params — given codebooks set their own shape
            "m_subspaces": len(books),
            "k_codes": max(len(b) for b in books),
        },
    )


def _codes(spark: SparkSession, path: str, epochs: list[int]) -> DataFrame:
    from feast_spark.io.pread import read_parquet_memo

    return read_parquet_memo(
        spark,
        *epochs_io.epoch_paths(path, "codes", epochs),
        base_path=posixpath.join(path, "codes"),
    ).drop("epoch")


def ivfpq_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 10,
    fs: StoreFS | None = None,
    as_of: int | str | None = None,
) -> DataFrame:
    """Top-k ADC neighbors against the persisted index: (query_id,
    neighbor_id, adc_dist).  Identical to the inline ``pq.ivfpq_topk``
    given the same (frozen) quantizer + codebooks — pinned by tests.

    The codes scan is STATICALLY partition-pruned to the union of the
    batch's probed cells, and the ADC kernel masks each query's
    off-probe rows, so every query's k candidates come exclusively
    from its own probed cells even under skew.  Per-query bytes moved:
    probed cells' CODE rows (M bytes/vector), never float vectors.

    Driver-side cost: one ``|Q|``-row query collect (inherent to the
    ADC contract — ``pq_topk`` ships the query vectors and probe masks
    in the task closure; queries are broadcast-few by that contract)
    plus the pure-Python probe over the already-loaded centroids —
    no Spark job is launched before the single ADC query job.

    ``as_of=commit_seq`` time-travels: epochs, centroid generation and
    codebook generation all resolve from the manifest archived at that
    commit — the frozen-model pairing head served then (vacuum's
    ``retain_last`` protects all three across the window)."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs, as_of=as_of)
    cents = _load_centroids(path, manifest, fs)
    books = _load_codebooks(path, manifest, fs)
    # ONE query collect per call: the driver-side probe
    # (probe_cells_py, pinned bit-identical to the probe_cells_df
    # expression) and the ADC tables are both built from the same
    # collected rows — no probe job, no double evaluation of the
    # queries plan
    q_rows = [
        (r[0], r[1]) for r in queries.select(id_col, vec_col).collect()
    ]
    q_probe: dict = {
        qid: probe_cells_py(qv, cents, n_probe) for qid, qv in q_rows
    }
    all_cells = sorted({c for cells in q_probe.values() for c in cells})
    codes = _codes(spark, path, manifest["epochs"]).filter(
        F.col("cell").isin(all_cells)
    )
    return pq_topk(
        codes,
        queries,
        books,
        id_col="id",
        codes_col="codes",
        query_id_col=id_col,
        query_vec_col=vec_col,
        k=k,
        probe_sets=q_probe,
        cell_col="cell",
        query_rows=q_rows,
    )


def ivfpq_index_append(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs: StoreFS | None = None,
    meta: dict | None = None,
) -> None:
    """Fold new vectors in under the FROZEN quantizer + codebooks: one
    O(new) encode pass + one epoch write + the atomic manifest flip —
    history is never rewritten, ids must be unique across appends
    (FAISS add() contract).  ``meta`` merges in the same flip (the
    streaming watermark); empty slices are a no-op."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    if new_vectors.limit(1).count() == 0:
        return
    cents = _load_centroids(path, manifest, fs)
    books = _load_codebooks(path, manifest, fs)
    epoch = epochs_io.next_epoch(path, fs, manifest["epochs"], _SUBDIRS)
    (
        _encode_cells(new_vectors, id_col, vec_col, cents, books)
        .repartition("cell")  # one file per cell (see build path)
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "codes", f"epoch={epoch}"))
    )
    manifest = {**manifest, **(meta or {})}
    manifest["epochs"] = sorted(manifest["epochs"] + [epoch])
    epochs_io.commit_manifest(path, fs, manifest)


def ivfpq_index_stats(
    spark: SparkSession, path: str, fs: StoreFS | None = None
) -> DataFrame:
    """Per-cell code counts + the global skew ratio and epoch count —
    the rebuild signal (mirrors ``ivf_index_stats``): drifted inserts
    pile into few cells and recall sags there."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    counts = (
        _codes(spark, path, manifest["epochs"])
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_codes"))
    )
    return counts.crossJoin(
        F.broadcast(
            counts.agg(
                (F.max("n_codes") / F.avg("n_codes")).alias("skew_ratio"),
                F.sum("n_codes").alias("total_codes"),
                F.lit(len(manifest["epochs"])).alias("n_epochs"),
            )
        )
    )


def ivfpq_index_compact(
    spark: SparkSession, path: str, fs: StoreFS | None = None
) -> None:
    """Rewrite all committed epochs into ONE (no re-train, no
    re-encode; query results identical — pinned).  Old directories
    stay until :func:`ivfpq_index_vacuum`."""
    fs = fs or LocalFS()
    manifest = _manifest(path, fs)
    if len(manifest["epochs"]) <= 1:
        return
    epoch = epochs_io.next_epoch(path, fs, manifest["epochs"], _SUBDIRS)
    (
        _codes(spark, path, manifest["epochs"])
        .repartition("cell")  # one file per cell (see build path)
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "codes", f"epoch={epoch}"))
    )
    epochs_io.commit_manifest(path, fs, {**manifest, "epochs": [epoch]})


def ivfpq_index_vacuum(
    spark: SparkSession, path: str, fs: StoreFS | None = None,
    retain_last: int = 0,
) -> dict:
    """Delete epoch directories the manifest no longer references AND
    superseded model generations (centroid dirs / codebook files not
    pointed to by the committed manifest) — run after readers of
    manifests outside the retention window have drained.

    ``retain_last`` keeps the N most recent archived commits readable
    (``ivfpq_index_topk(as_of=seq)``): their epochs, centroid
    generations AND codebook generations are all protected, preserving
    each historical manifest's frozen-model pairing."""
    fs = fs or LocalFS()
    expired, removed = epochs_io.vacuum(
        path, fs, retain_last, lambda: _manifest(path, fs),
        lambda *window: _sweep(path, fs, *window),
    )
    removed["history_expired"] = [str(s) for s in expired]
    return removed


def _sweep(
    path: str, fs: StoreFS, manifest: dict, protected: set[int],
    retained: list[dict],
) -> dict:
    removed = epochs_io.vacuum_epochs(
        path, fs, manifest["epochs"], _SUBDIRS, protect_epochs=protected
    )
    # .get(): a retained manifest across a kind-rebuild may be foreign
    # (no centroids/codebooks keys) — its epochs are still protected,
    # its model pointers simply contribute nothing
    live_cents = {
        m.get("centroids") for m in [manifest, *retained]
    } - {None}
    cbase = posixpath.join(path, "centroids")
    removed["centroids"] = []
    for d in fs.list_subdirs(cbase) if fs.exists(cbase) else []:
        rel = posixpath.join("centroids", d)
        if d.startswith("gen=") and rel not in live_cents:
            fs.delete(posixpath.join(cbase, d))
            removed["centroids"].append(d)
    live_books = {
        m.get("codebooks") for m in [manifest, *retained]
    } - {None}
    bbase = posixpath.join(path, "codebooks")
    removed["codebooks"] = []
    for f in fs.list_files(bbase) if fs.exists(bbase) else []:
        rel = posixpath.join("codebooks", f)
        if f.startswith("gen=") and rel not in live_books:
            fs.delete(posixpath.join(bbase, f))
            removed["codebooks"].append(f)
    removed["centroids"].sort()
    removed["codebooks"].sort()
    return removed
