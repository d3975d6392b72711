"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the corpus; the corpus streams through one pass, the
  only shuffle is the per-query top-k aggregation.  Dot products run
  JVM-side via zip_with/aggregate (no Python in the loop).
* random-hyperplane LSH buckets — the scale path: P sign-bits per vector
  from deterministic pseudo-random hyperplanes; near neighbors collide
  in buckets, turning ANN into an equi-join.  Recall is tunable with
  (planes, tables).

At 100 TB the corpus side never materializes: both paths are a single
scan + narrow ops; candidate verification touches only bucket-collided
pairs.
"""

from __future__ import annotations

import json
import posixpath
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS, StoreFS
from feast_spark.io.localframe import local_df


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i in DOUBLE, left-to-right (bit-stable across engines that
    fold sequentially — DuckDB's list kernels do, which the oracle relies
    on)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`dot` — same casts, same sequential
    fold, so the parsed tree (and every bit of the result) matches
    the Column build.  One ``F.expr`` parse instead of ~40 py4j
    round trips per dot product (plan construction recurs per call)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def cosine_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`cosine` over two column identifiers."""
    return (
        f"{_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos) with deterministic ranking
    (cos desc — rounded if round_digits — then neighbor_id asc), self
    excluded.  ``queries`` must be small (it is broadcast)."""

    # backtick-quote so id/vec names with dots or spaces resolve as
    # whole names (F.col parses dots as struct access)
    def _qcol(name: str) -> Column:
        return F.col("`" + name.replace("`", "``") + "`")

    from feast_spark.operators.docdedup import widen_parallelism

    q = queries.select(
        _qcol(id_col).alias("query_id"), _qcol(vec_col).alias("__qvec")
    )
    # the corpus side carries the O(corpus x queries) dot-product work
    # at ITS partitioning: widen a small-file scan to the session
    # parallelism (no-op whenever the scan has >= cores input files)
    c = widen_parallelism(
        corpus.select(
            _qcol(id_col).alias("neighbor_id"), _qcol(vec_col).alias("__cvec")
        )
    )
    cos = cosine(F.col("__qvec"), F.col("__cvec"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("__rn").alias("rank"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------

def hyperplane_sign(plane: int, dim: int) -> float:
    """Deterministic ±1 pseudo-random hyperplane component from a
    Weyl-sequence-style integer mix — reproducible across sessions
    (and engines: the driver oracle embeds the same values as SQL
    literals) with no stored model."""
    mixed = (plane * 1_000_003 + dim * 7_919 + 12_345) * 2_654_435_761
    return 1.0 if (mixed >> 16) & 1 else -1.0


def _hyperplane_component(plane: int, dim: int) -> Column:
    return F.lit(hyperplane_sign(plane, dim))


def with_lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 16,
    out_col: str = "lsh_sig",
) -> DataFrame:
    """P sign-bits packed into a long: bit p = sign(v · h_p).

    Assembled as ONE SQL string — the former per-term Column DSL was
    P x D py4j round trips per call (at 16 x 64 that alone cost ~2 s of
    driver wall per build); the parsed tree is identical."""
    from feast_spark.functions.text import sql_ident

    v = sql_ident(vec_col)
    bits = []
    for p in range(planes):
        terms = " + ".join(
            f"cast(element_at({v}, {d + 1}) as double) * "
            f"{_sql_double(hyperplane_sign(p, d))}"
            for d in range(dims)
        )
        bits.append(
            f"(CASE WHEN ({terms}) > 0 THEN "
            f"shiftleft(cast(1 as bigint), {p}) ELSE cast(0 as bigint) END)"
        )
    return df.withColumn(out_col, F.expr(" | ".join(bits)))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 12,
    k: int = 10,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN: candidates = corpus vectors whose signature is within
    ``probe_hamming`` bits of the query signature (multi-probe), then
    exact cosine re-rank of candidates only."""
    from feast_spark.operators.docdedup import widen_parallelism

    # signature + candidate filter run at the corpus scan's
    # partitioning: widen a small-file scan (no-op at real file counts)
    c = with_lsh_signature(
        widen_parallelism(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
            )
        ),
        "__cvec",
        dims,
        planes,
        "__csig",
    )
    q = with_lsh_signature(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")),
        "__qvec",
        dims,
        planes,
        "__qsig",
    )
    cand = c.crossJoin(F.broadcast(q)).filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (
            F.bit_count(F.col("__csig").bitwiseXOR(F.col("__qsig")))
            <= probe_hamming
        )
    )
    cos = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("__rn").alias("rank"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket on the exact
    signature (equi-join — no cross join), verify candidates with exact
    cosine >= threshold."""
    sig = with_lsh_signature(
        df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")),
        "vec",
        dims,
        planes,
        "sig",
    )
    a = sig.select(F.col("doc").alias("id_a"), F.col("vec").alias("va"), F.col("sig"))
    b = sig.select(F.col("doc").alias("id_b"), F.col("vec").alias("vb"), F.col("sig"))
    return (
        a.join(b, "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )

def exact_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact all-pairs cosine similarity >= threshold (the near-dup
    ground truth).

    Inherently O(n^2): cosine admits no norm-based pruning (norms
    cancel), so every pair must be scored.  This is the *oracle* path —
    run it on samples or small corpora to calibrate
    ``embedding_near_dup_pairs`` (the LSH scale path).  The join is a
    broadcast nested-loop on the smaller side; the dot products stay in
    whole-stage codegen (zip_with/aggregate, no Python)."""
    from feast_spark.operators.docdedup import widen_parallelism

    # the stream side executes the O(n^2) cosine loop at its own
    # partitioning — widen a small-file scan (no-op at real file counts)
    a = widen_parallelism(
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    )
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = cosine(F.col("__va"), F.col("__vb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path
# ---------------------------------------------------------------------------

def ivf_train_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    sample_per_centroid: int = 64,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: deterministic hash-ordered sample
    -> k-means init on the first C sample vectors -> ``iters`` Lloyd
    steps, all as DataFrame ops (assign = argmin L2 over broadcast
    centroid literals; update = posexplode + groupBy(cell, dim) mean).

    The sample is bounded (C * sample_per_centroid rows), so training
    cost is independent of corpus size — at 100 TB the quantizer still
    trains on a few thousand rows while assignment streams the full
    corpus once.  Returns the centroids as a plain list (tiny: C x d
    floats) for broadcasting into literal expressions."""
    sample = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy(F.xxhash64(F.col("__id")))
        .limit(n_centroids * sample_per_centroid)
        .cache()
    )
    cents = [
        [float(x) for x in r["__v"]]
        for r in sample.limit(n_centroids).collect()
    ]
    for _ in range(iters):
        assigned = sample.withColumn(
            "__cell", nearest_centroid("__v", cents)
        )
        new = (
            assigned.select(
                "__cell", F.posexplode(F.col("__v")).alias("__d", "__x")
            )
            .groupBy("__cell", "__d")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__d", "__m"))
                ).alias("__dm")
            )
            .select(
                "__cell",
                F.transform(F.col("__dm"), lambda s: s["__m"]).alias("__c"),
            )
            .collect()
        )
        by_cell = {r["__cell"]: [float(x) for x in r["__c"]] for r in new}
        cents = [by_cell.get(i, cents[i]) for i in range(n_centroids)]
    sample.unpersist()
    return cents


def md5_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[list[float]]:
    """Engine-portable coarse quantizer: the n vectors whose
    md5(CAST(id AS STRING)) sorts first, in that order (cell i = rank
    i).  No float arithmetic in the selection, so any engine with md5
    picks the identical centroid set — the driver oracle re-derives it
    in SQL and value-checks the full IVF assign/probe/re-rank pipeline.
    k-means (``ivf_train_centroids``) remains the quality path; this is
    the reproducibility path and a fine quantizer for uniform-ish
    corpora.  Bounded driver-side collect (n rows)."""
    rows = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy(F.md5(F.col("__id").cast("string")))
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["__v"]] for r in rows]


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _sql_double(x: float) -> str:
    """Shortest-roundtrip double literal with the D suffix (a bare
    decimal parses as DECIMAL in Spark SQL)."""
    r = repr(float(x))
    if "inf" in r or "nan" in r:
        raise ValueError(f"non-finite centroid component: {x}")
    return r + "D"


def nearest_centroid(
    vec: Column | str, centroids: list[list[float]]
) -> Column:
    """argmin_c ||v - c||^2 as a single codegen expression:
    array_position(dists, array_min(dists)) - 1.

    ``vec`` may be a Column or SQL expression text.  The SQL-text path
    assembles the whole O(C x D) literal tree as ONE ``F.expr`` string
    (a single py4j round trip + JVM-side parse) instead of ~C x D
    ``F.lit`` round trips — plan construction recurs per call (and per
    k-means iteration), so at C=64, D=64 the DSL spelling alone costs
    seconds of driver wall time.  Both paths parse to the identical
    expression tree (identity pytest-pinned)."""
    if isinstance(vec, str):
        legs = ", ".join(
            f"aggregate(zip_with({vec}, array("
            + ", ".join(_sql_double(x) for x in c)
            + "), (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            "0.0D, (acc, v) -> acc + v)"
            for c in centroids
        )
        dists = f"array({legs})"
        return F.expr(
            f"cast(array_position({dists}, array_min({dists})) - 1 as int)"
        )
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec,
                    _lit_vec(c),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in centroids
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def nearest_centroid_arrow(
    vec: Column | str, centroids: list[list[float]]
) -> Column:
    """Arrow-vectorized twin of :func:`nearest_centroid` for
    corpus-scale assignment passes (guide §4.2: hand whole batches to
    native vectorized code).  The expression form evaluates its
    higher-order-function legs interpreted, per row — measured ~16 µs
    per row-core at C=16, D=64, which IS the corpus pass at scale;
    this path runs the identical arithmetic batched in NumPy at ~12x
    the throughput.

    Bit-identity with the expression (pinned by tests, including
    null/ragged/NaN rows): float32 -> float64 widening is exact;
    the per-(row, cell) accumulator adds (x_d - c_d)^2 terms
    SEQUENTIALLY over d (an explicit dim loop — never np.sum, whose
    pairwise summation reorders the fold); np.argmin returns the
    first minimum, matching array_position(dists, array_min(dists));
    rows that are NULL or whose length differs from D yield NULL,
    matching zip_with's null-padding semantics.  Rows with a NULL
    ELEMENT also yield NULL (the expression path's null propagation) —
    Arrow renders element nulls as NaN, indistinguishable from a real
    NaN value, so a cheap JVM-side ``exists(x -> x IS NULL)`` guard
    nulls those rows before they cross the boundary."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)
    n_cells, dims = cm.shape

    @F.pandas_udf("int")
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            vals = s.values
            n = len(vals)
            lens = np.fromiter(
                (-1 if v is None else len(v) for v in vals),
                dtype=np.int64,
                count=n,
            )
            ok = lens == dims
            oki = np.flatnonzero(ok)
            full = np.zeros(n, dtype=np.int32)
            if oki.size:
                x = np.vstack(list(vals[oki])).astype(
                    np.float64, copy=False
                )
                dists = np.zeros((oki.size, n_cells), dtype=np.float64)
                for d in range(dims):
                    diff = x[:, d, None] - cm[None, :, d]
                    dists += diff * diff
                full[oki] = np.argmin(dists, axis=1).astype(np.int32)
            out = pd.Series(full).astype("Int32")
            out[~ok] = None
            yield out

    vec_col = F.expr(vec) if isinstance(vec, str) else vec
    # null-element guard: expression semantics give NULL for a vector
    # containing a NULL element; Arrow would render it as NaN (-> cell
    # 0).  exists() is a cheap JVM pass over the array.
    guarded = F.when(
        F.exists(vec_col, lambda x: x.isNull()), F.lit(None)
    ).otherwise(vec_col)
    return _assign(guarded)


def _scan_bytes(df: DataFrame, many_files: int = 64) -> int | None:
    """Driver-side estimate of the bytes behind ``df``'s file scan:
    None when the plan is not file-backed (request-sized frames,
    LocalRelations) or the estimate is the unknown sentinel, a large
    value when the file COUNT alone proves the input big, else
    Catalyst's plan-statistics size (ONE py4j call off the already-
    listed file index — never a per-file getFileStatus loop, which on
    an object store would be up to ``many_files`` sequential remote
    HEADs of plan-build latency).  Metadata only — no job."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    if len(files) >= many_files:
        return 1 << 62
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # frames with no real estimate report Long.MaxValue-ish
        # numbers; treat anything absurd as unknown -> expression path
        return size if 0 <= size < (1 << 62) else None
    except Exception:
        return None


# Corpus-side assignment flips to the Arrow path at/above this many
# scan bytes (override: SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES).  Below
# it the expression path wins: a Python-worker stage costs a fixed
# ~0.2-0.5 s, which dwarfs interpreted HOF evaluation on request- or
# test-sized frames, while at corpus scale the per-row cost dominates
# and the Arrow path is ~12x.  Both paths are bit-identical, so the
# dispatch never changes results — only the plan.
def _arrow_assign_min_bytes() -> int:
    import os

    return int(
        os.environ.get(
            "SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES", str(64 * 1024 * 1024)
        )
    )


def assign_nearest_centroid(
    df: DataFrame,
    vec: Column | str,
    centroids: list[list[float]],
    out_col: str,
) -> DataFrame:
    """Size-adaptive nearest-centroid assignment: the expression tree
    for small/file-less inputs, :func:`nearest_centroid_arrow` once
    the scan is provably corpus-sized.  ``vec`` may be a column name
    or Column; both paths cast elements to double identically."""
    size = _scan_bytes(df)
    if size is not None and size >= _arrow_assign_min_bytes():
        return df.withColumn(out_col, nearest_centroid_arrow(vec, centroids))
    return df.withColumn(out_col, nearest_centroid(vec, centroids))


def probe_cells_df(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    qid_col: str = "query_id",
    qvec_col: str = "__qvec",
    cell_col: str = "cell",
) -> DataFrame:
    """(qid, qvec, cell) rows for the ``n_probe`` nearest cells per
    query — the data-driven twin of :func:`probe_cells`.

    Instead of an O(C x D) literal expression tree (one aggregate over
    a D-element literal array PER centroid — at C=64, D=64 that is
    thousands of AST nodes, and Catalyst re-analyzes + re-codegens it
    on every query, dominating serving latency), the centroids ride in
    as ONE array<struct<cell, vec>> column (a 1-row broadcast
    crossJoin) and the whole probe is a single small fixed expression:
    transform -> array_sort -> slice -> explode.  No shuffle, no
    window, analysis cost independent of C.  Same doubles, same
    sequential summation order, same (distance, cell) ascending
    tie-break, so cells are identical to the literal path
    (pytest-pinned)."""
    spark = queries.sparkSession
    # local_df: LocalRelation — the broadcast build over the 1-row
    # centroid-struct frame stays JVM-side (no Python-worker stage)
    cents = local_df(
        spark,
        [
            (
                [
                    {"cell": i, "vec": [float(x) for x in c]}
                    for i, c in enumerate(centroids)
                ],
            )
        ],
        "__cents ARRAY<STRUCT<cell: INT, vec: ARRAY<DOUBLE>>>",
    )
    qv = F.col(qvec_col)
    dists = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    qv,
                    c["vec"],
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            c["cell"].alias("cell"),
        ),
    )
    probed = F.transform(
        F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
    )
    return (
        queries.select(qid_col, qvec_col)
        .crossJoin(F.broadcast(cents))
        .select(qid_col, qvec_col, F.explode(probed).alias(cell_col))
    )


def probe_cells_py(
    qvec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """Pure-Python twin of :func:`probe_cells_df` for query vectors
    that are ALREADY driver-side: the serving paths collect or receive
    the (broadcast-few) query vectors anyway, so computing the probe
    here removes one whole Spark job per query from the serving floor.

    Bit-identical by construction — Python floats ARE IEEE doubles and
    this loop performs the same operations in the same order as the
    codegen'd expression: per centroid, fold (cast-to-double(x) - y)^2
    left to right; then sort by (distance, cell) ascending and take
    the first ``n_probe``.  Pinned against :func:`probe_cells_df` in
    tests (including tie cases).

    Malformed inputs fail LOUDLY here: the expression path would
    NULL-pad a short vector (zip_with) into NULL distances while
    zip() would silently truncate — a wrong-dimension query must not
    return different plausible-looking cells depending on which probe
    path a flag selected."""
    if qvec is None or (centroids and len(qvec) != len(centroids[0])):
        got = "None" if qvec is None else f"dim {len(qvec)}"
        raise ValueError(
            f"query vector must match centroid dim "
            f"{len(centroids[0]) if centroids else '?'}, got {got}"
        )
    dists = []
    for cell, cent in enumerate(centroids):
        d = 0.0
        for x, y in zip(qvec, cent):
            diff = float(x) - y
            d = d + diff * diff
        dists.append((d, cell))
    dists.sort()
    return [cell for _, cell in dists[:n_probe]]


def probe_cells(
    vec: Column | str, centroids: list[list[float]], n_probe: int
) -> Column:
    """The n_probe nearest cell ids for a query vector, as an array.

    ``vec`` may be a Column or SQL expression text — the SQL-text path
    builds the O(C x D) literal tree in one ``F.expr`` round trip (see
    :func:`nearest_centroid`); both parse to the identical tree."""
    if isinstance(vec, str):
        legs = ", ".join(
            "struct(aggregate(zip_with(" + vec + ", array("
            + ", ".join(_sql_double(x) for x in c)
            + "), (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            "0.0D, (acc, v) -> acc + v) AS d, "
            f"cast({i} as int) AS cell)"
            for i, c in enumerate(centroids)
        )
        return F.expr(
            f"transform(slice(array_sort(array({legs})), 1, {n_probe}), "
            "s -> s.cell)"
        )
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec,
                        _lit_vec(c),
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).cast("int").alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.transform(
        F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into C cells, probe the
    n_probe cells nearest each query, exact-cosine re-rank candidates.

    Scale shape: corpus is scanned once to tag cells (narrow, codegen);
    the candidate join is an equi-join on the cell id (shuffle bounded
    by n_probe/C of the corpus) — no cross join, no per-row Python.
    Recall is tunable with n_probe (n_probe = C ==> exact).

    ``centroids`` skips training and uses the given quantizer (e.g.
    ``md5_centroids`` for the engine-portable one)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_train_centroids(corpus, id_col, vec_col, n_centroids, iters=iters)
    )
    from feast_spark.operators.docdedup import widen_parallelism

    # assignment + re-rank run at the corpus scan's partitioning:
    # widen a small-file scan first (no-op at real file counts)
    c = assign_nearest_centroid(
        widen_parallelism(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
            )
        ),
        "__cvec",
        cents,
        "__cell",
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
        .withColumn("__cells", probe_cells("__qvec", cents, n_probe))
        .select(
            "query_id", "__qvec", F.explode(F.col("__cells")).alias("__cell")
        )
    )
    cand = c.join(F.broadcast(q), "__cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("__rn").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Persisted IVF index — build once, query many times
# ---------------------------------------------------------------------------

_IVF_MANIFEST = "_MANIFEST.json"
_IVF_SUBDIRS = ("vectors",)


def _ivf_manifest(
    path: str, fs: StoreFS, as_of: int | str | None = None
) -> dict:
    return epochs_io.read_manifest(
        path, fs, required_keys=("epochs",), kind="IVF index",
        kind_id="ivf", as_of_seq=as_of,
    )


def _ivf_commit(path: str, fs: StoreFS, manifest: dict) -> None:
    epochs_io.commit_manifest(path, fs, manifest)


def _ivf_next_epoch(path: str, fs: StoreFS, committed: list[int]) -> int:
    return epochs_io.next_epoch(path, fs, committed, _IVF_SUBDIRS)


def _ivf_next_centroid_gen(path: str, fs: StoreFS) -> int:
    """Number past every centroid generation directory, committed or
    orphaned (same discipline as ``_ivf_next_epoch``): a crashed rebuild
    leaves its ``gen=N`` dir behind, and the next rebuild must not
    collide with it."""
    seen = set()
    base = posixpath.join(path, "centroids")
    for d in fs.list_subdirs(base) if fs.exists(base) else []:
        if d.startswith("gen=") and d[4:].isdigit():
            seen.add(int(d[4:]))
    return (max(seen) + 1) if seen else 0


def _ivf_centroids_dir(path: str, manifest: dict) -> str:
    """The centroid directory the committed manifest pairs with its
    epochs.  Older indexes (and hand-built fixtures) carry no
    ``centroids`` pointer and use the flat ``{path}/centroids`` dir."""
    return posixpath.join(path, manifest.get("centroids", "centroids"))


def read_centroid_dir(cdir: str, fs: StoreFS) -> list[list[float]]:
    """Driver-side pyarrow read of a (cell, centroid) parquet dir,
    sorted by cell (C rows, a few KB) — shared by the IVF and IVFPQ
    serving paths.  Going through ``spark.read.parquet(...).collect()``
    cost a full Spark job (plan + listing + sort shuffle) PER QUERY,
    several hundred ms of pure overhead on the serving path.

    Cached across queries (``io/model_cache.py``): generation dirs are
    write-once under the epoch protocol, so the directory path plus
    its part-file names (already listed anyway; Spark part names embed
    a per-write UUID, so even an out-of-band rewrite at the same path
    misses) is a sound immutable key.  Repeat queries against an
    unchanged index skip the read+parse entirely."""
    from feast_spark.io import model_cache

    names = tuple(
        n for n in sorted(fs.list_files(cdir)) if n.endswith(".parquet")
    )

    def _load() -> list[list[float]]:
        import io as _io

        import pyarrow.parquet as pq

        rows: list[tuple[int, list[float]]] = []
        for name in names:
            t = pq.read_table(
                _io.BytesIO(fs.read_bytes(posixpath.join(cdir, name))),
                columns=["cell", "centroid"],
            )
            cells = t.column("cell").to_pylist()
            cents = t.column("centroid").to_pylist()
            rows.extend(zip(cells, cents))
        rows.sort(key=lambda r: r[0])
        return [[float(x) for x in c] for _, c in rows]

    return model_cache.get_or_load(
        ("centroids", fs.cache_token(), cdir, names), _load
    )


def _ivf_load_centroids(
    spark, path: str, fs: StoreFS | None = None,
    manifest: dict | None = None,
) -> list[list[float]]:
    """Centroids resolved THROUGH the manifest, so a query never pairs
    one generation's quantizer with another generation's cell-tagged
    vectors (rebuild commits both pointers in one atomic flip).  Pass
    ``manifest`` to resolve an already-loaded (possibly historical)
    manifest instead of re-reading head."""
    fs = fs or LocalFS()
    manifest = manifest if manifest is not None else _ivf_manifest(path, fs)
    return read_centroid_dir(_ivf_centroids_dir(path, manifest), fs)


def _ivf_vectors(
    spark, path: str, fs: StoreFS | None = None,
    manifest: dict | None = None,
) -> DataFrame:
    """The committed (id, vec, cell) corpus: only manifest-listed epoch
    directories are read, so a crashed append is invisible.  ``cell``
    stays a discovered partition column under every epoch dir — cell
    equality/IN filters still prune directories."""
    fs = fs or LocalFS()
    manifest = manifest if manifest is not None else _ivf_manifest(path, fs)
    epochs = manifest["epochs"]
    from feast_spark.io.pread import read_parquet_memo

    return read_parquet_memo(
        spark,
        *epochs_io.epoch_paths(path, "vectors", epochs),
        base_path=posixpath.join(path, "vectors"),
    ).drop("epoch")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    fs: StoreFS | None = None,
) -> None:
    """Train the coarse quantizer once and persist the index:

    - ``{path}/centroids/gen=G``: tiny parquet (cell, centroid) table,
      one generation directory per (re)build
    - ``{path}/vectors/epoch=N``: the cell-tagged corpus,
      ``partitionBy(cell)`` within the epoch directory
    - ``{path}/_MANIFEST.json``: the committed epoch list AND the
      centroid-generation pointer (the epoch-append protocol of
      ``operators/minhash_index.py``)

    A REBUILD over an existing index stages a NEW centroid generation
    and a NEW epoch, then flips the manifest once — epochs and the
    quantizer that assigned their cells change together atomically, so
    a crash mid-rebuild (or a reader racing it) still sees the old,
    internally consistent pairing.  Superseded generations/epochs stay
    on disk until ``ivf_index_vacuum``; single-writer, like every
    persisted index here.

    Querying then reads ONLY the probed cells' directories (partition
    pruning / dynamic partition pruning on the broadcast cell join) —
    at 100 TB with C=4096 cells and n_probe=64, a query batch touches
    ~1.5% of the corpus bytes, and nothing is retrained per query
    (``ivf_ann_topk`` retrains every call; this is its repeated-workload
    counterpart)."""
    fs = fs or LocalFS()
    spark = corpus.sparkSession
    cents = ivf_train_centroids(corpus, id_col, vec_col, n_centroids, iters=iters)
    gen = _ivf_next_centroid_gen(path, fs)
    cent_rel = posixpath.join("centroids", f"gen={gen}")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("errorifexists").parquet(
        posixpath.join(path, cent_rel)
    )
    epoch = _ivf_next_epoch(path, fs, [])
    from feast_spark.operators.docdedup import widen_parallelism

    (
        assign_nearest_centroid(
            widen_parallelism(
                corpus.select(
                    F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
                )
            ),
            "vec",
            cents,
            "cell",
        )
        # cluster by cell before the partitioned write: each cell maps
        # to exactly one task, so the epoch holds ONE file per cell at
        # any input parallelism (widened assignment would otherwise
        # write tasks x cells small files, slowing every probed read)
        .repartition("cell")
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "vectors", f"epoch={epoch}"))
    )
    carried = epochs_io.carried_meta(path, fs)
    _ivf_commit(
        path, fs,
        {**carried, "kind": "ivf", "epochs": [epoch], "centroids": cent_rel},
    )


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 10,
    fs: StoreFS | None = None,
    driver_probe: bool = False,
    as_of: int | str | None = None,
) -> DataFrame:
    """Top-k cosine ANN against a persisted IVF index (see
    ``build_ivf_index``). Same output schema/semantics as
    ``ivf_ann_topk`` with identical params — pinned by tests.

    The vectors scan is STATICALLY partition-pruned to the union of
    the batch's probed cells: the probe frame is tiny (|Q| x n_probe
    rows), so its distinct cells — bounded by the centroid count C,
    never by |Q| or the corpus — are collected and pushed as a
    ``cell IN (...)`` literal filter.  A dynamic-partition-pruning
    subquery would do the same only when Catalyst chooses to insert
    one (it declines for LocalRelation query frames, the common
    serving shape) and costs an extra subquery stage when it does;
    the literal IN prunes in every case (plan-pinned).

    ``driver_probe=True`` collects the query rows and computes the
    probe in pure Python (``probe_cells_py``, pinned bit-identical to
    the ``probe_cells_df`` expression): the probe job AND the
    distinct-cells collect job disappear, leaving ONE Spark job per
    call.  Right when queries are request-sized (the serving shape,
    where they were just created from driver-side values anyway);
    keep the default for query frames you'd rather not collect.

    ``as_of=commit_seq`` time-travels: centroid generation AND epoch
    list resolve from the manifest archived at that commit — the
    internally consistent (quantizer, cells) pairing head served then.
    Vacuum's ``retain_last`` protects both from deletion across the
    window."""
    fs = fs or LocalFS()
    manifest = _ivf_manifest(path, fs, as_of=as_of)
    cents = _ivf_load_centroids(spark, path, fs, manifest=manifest)
    vectors = _ivf_vectors(spark, path, fs, manifest=manifest).select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("__cvec"), "cell"
    )
    if driver_probe:
        from pyspark.sql.types import IntegerType, StructField, StructType

        q_schema = StructType(
            [
                StructField("query_id", queries.schema[id_col].dataType),
                StructField("__qvec", queries.schema[vec_col].dataType),
                StructField("cell", IntegerType()),
            ]
        )
        rows = []
        cells_seen = set()
        for r in queries.select(id_col, vec_col).collect():
            for cell in probe_cells_py(r[1], cents, n_probe):
                rows.append((r[0], r[1], cell))
                cells_seen.add(cell)
        # local_df: the probed request frame is driver data — as a
        # LocalRelation its broadcast never launches a Python stage
        q = local_df(spark, rows, q_schema)
        probed = sorted(cells_seen)
    else:
        # data-driven probe (probe_cells_df): analysis cost independent
        # of the centroid count — the literal-expression probe_cells
        # tree made per-query planning dominate serving latency at C>=32
        q = probe_cells_df(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
            ),
            cents,
            n_probe,
        )
        probed = sorted(
            r["cell"] for r in q.select("cell").distinct().collect()
        )  # bounded collect: at most C ints
    cand = (
        vectors.filter(F.col("cell").isin(probed))
        .join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    # one selectExpr per projection (SQL-text twins of cosine and the
    # ranking window — identical trees): the Column-DSL spelling of
    # this tail alone cost ~0.3 s of py4j round trips per call, pure
    # serving latency under the per-call contract
    return (
        cand.selectExpr(
            "query_id",
            "neighbor_id",
            f"round({cosine_sql('__qvec', '__cvec')}, 4) AS cos",
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, neighbor_id ASC) AS __rn",
        )
        .filter(f"__rn <= {int(k)}")
        .selectExpr("query_id", "neighbor_id", "cos", "__rn AS rank")
    )


# ---------------------------------------------------------------------------
# Embedding compression / clustering primitives
# ---------------------------------------------------------------------------

def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale = max|x_i|,
    q_i = floor(x_i / scale * 127 + 0.5) in [-127, 127].  4x smaller
    vectors for ANN candidate generation; distances on qvec approximate
    the float ones to ~1/254 relative error.

    Pure projection — no shuffle, codegen end-to-end.  floor(x + 0.5)
    instead of round() so the oracle reproduces identical values in any
    engine regardless of its round-half mode.  Zero vectors get
    scale=0 and all-zero qvec; empty arrays (array_max -> NULL) are
    coalesced into the same scale=0 branch instead of dividing by
    NULL."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.coalesce(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(0.0)
    )
    q = F.when(F.col(scale_col) == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x / F.col(scale_col) * 127.0 + 0.5).cast("int"),
        )
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def assign_nearest(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cell",
    centroid_vec_col: str = "centroid",
    dist_col: str = "dist",
) -> DataFrame:
    """Assign every vector to its nearest centroid by L2 distance
    (ties -> lowest centroid id): the k-means assignment step as a
    relational plan.

    ``centroids`` is broadcast (K rows); the corpus streams through one
    scan, so the only shuffle is whatever the caller does downstream.
    min_by over a struct keeps the argmin inside the partial hash
    aggregation — no window, no row_number, no second pass."""
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.transform(F.col(centroid_vec_col), lambda x: x.cast("double")).alias(
            "__cvec"
        ),
    )
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("__cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col, F.col("__cid"), F.sqrt(d2).alias("__d")
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("__cid").alias("cid"), F.col("__d").alias("d")),
            F.struct(F.col("__d"), F.col("__cid")),
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col("__best.cid").alias(centroid_id_col),
        F.col("__best.d").alias(dist_col),
    )


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs: StoreFS | None = None,
    meta: dict | None = None,
) -> None:
    """Add vectors to a persisted IVF index WITHOUT retraining — the
    FAISS ``add()`` semantics: the coarse quantizer stays frozen, new
    vectors are assigned to their nearest existing centroid and staged
    as a new epoch directory (``vectors/epoch=N``, partitioned by cell
    within it), then the manifest is atomically rewritten to include
    the epoch.  Readers resolve the manifest, so a crashed append's
    partial files are INVISIBLE (its epoch is never listed) and a
    completed append becomes visible to the next query atomically —
    no reader coordination, object-store safe.  Appends are
    single-writer (epoch numbering), like every append index.

    Cost: one narrow pass over the NEW vectors only (broadcast
    centroid argmin + one epoch write + an O(1) manifest flip) —
    history is never rewritten, which is what makes a 100 TB index
    maintainable as the corpus grows daily.  The trade-off of a frozen
    quantizer is distribution drift: vectors from a shifted
    distribution still land in their nearest old cell, so recall
    degrades as skew grows.  Watch ``ivf_index_stats`` and rebuild
    (``build_ivf_index``) when the max/mean cell-size ratio drifts
    past your budget.  Epoch count grows per append; queries list
    O(epochs x probed cells) directories, so compact (rebuild) if
    appends are very frequent.

    Id uniqueness across appends is the caller's contract (same as
    FAISS).  ``meta`` keys merge into the manifest in the same atomic
    flip (the streaming sink's epoch watermark); empty slices are a
    no-op."""
    fs = fs or LocalFS()
    manifest = _ivf_manifest(path, fs)
    if new_vectors.limit(1).count() == 0:
        return
    cents = _ivf_load_centroids(spark, path, fs)
    epoch = _ivf_next_epoch(path, fs, manifest["epochs"])
    from feast_spark.operators.docdedup import widen_parallelism

    (
        assign_nearest_centroid(
            widen_parallelism(
                new_vectors.select(
                    F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
                )
            ),
            "vec",
            cents,
            "cell",
        )
        .repartition("cell")  # one file per cell (see build_ivf_index)
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "vectors", f"epoch={epoch}"))
    )
    _ivf_commit(
        path,
        fs,
        {
            **manifest,
            **(meta or {}),
            "epochs": manifest["epochs"] + [epoch],
        },
    )


def ivf_index_stats(spark, path: str, fs: StoreFS | None = None) -> DataFrame:
    """Per-cell vector counts plus the global skew ratio
    (max cell / mean cell) — the rebuild-decision signal for
    ``ivf_index_append``.  One aggregate over partition-pruned
    metadata-cheap scans."""
    counts = (
        _ivf_vectors(spark, path, fs)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return counts.crossJoin(
        F.broadcast(
            counts.agg(
                (F.max("n_vectors") / F.avg("n_vectors")).alias("skew_ratio"),
                F.sum("n_vectors").alias("total_vectors"),
            )
        )
    )


def ivf_index_compact(spark, path: str, fs: StoreFS | None = None) -> None:
    """Rewrite every committed vector epoch into ONE new epoch —
    centroids untouched, cell assignments untouched, query results
    identical (pinned by tests).  Frequent appends make every query
    list O(epochs x probed cells) directories; compaction resets that
    to one directory per probed cell without the retrain a
    ``build_ivf_index`` rebuild implies.

    Stage-then-flip like append: a crash leaves an orphan epoch the
    next writer numbers past and ``ivf_index_vacuum`` deletes.
    Superseded epochs stay until vacuum, so in-flight readers of the
    old manifest keep working (OPTIMIZE-then-VACUUM split)."""
    fs = fs or LocalFS()
    manifest = _ivf_manifest(path, fs)
    epochs = manifest["epochs"]
    if len(epochs) <= 1:
        return
    merged = _ivf_next_epoch(path, fs, epochs)
    (
        _ivf_vectors(spark, path, fs)
        .repartition("cell")  # one file per cell (see build_ivf_index)
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(posixpath.join(path, "vectors", f"epoch={merged}"))
    )
    _ivf_commit(path, fs, {**manifest, "epochs": [merged]})


def ivf_index_vacuum(
    path: str, fs: StoreFS | None = None, retain_last: int = 0
) -> dict:
    """Delete epoch and centroid-generation directories the committed
    manifest no longer references (rebuild leftovers, crashed-append
    orphans).  Returns ``{"epochs_removed": [...],
    "centroid_gens_removed": [...], "history_expired": [...]}``.

    ``retain_last`` keeps the N most recent archived commits readable
    (``ivf_index_topk(as_of=seq)``): their epochs AND their centroid
    generations are protected — a historical manifest must keep its
    own internally consistent (quantizer, cells) pairing or time
    travel across a rebuild would pair one generation's quantizer
    with another's cell tags.

    Run it from the single writer, and only once no reader launched
    against a manifest OUTSIDE the retention window is still scanning
    (readers resolve directories at plan time; the retention window IS
    the reader grace window — the Delta/Iceberg VACUUM contract).
    Never removes anything the current manifest lists, so it is always
    safe with respect to NEW readers."""
    fs = fs or LocalFS()

    def sweep(manifest, protected, retained):
        removed_e = epochs_io.vacuum_epochs(
            path, fs, manifest["epochs"], _IVF_SUBDIRS,
            protect_epochs=protected,
        )["vectors"]
        live_gens = {
            posixpath.basename(m.get("centroids", "centroids"))
            for m in [manifest, *retained]
        }
        removed_g = []
        cbase = posixpath.join(path, "centroids")
        for d in fs.list_subdirs(cbase) if fs.exists(cbase) else []:
            if d.startswith("gen=") and d not in live_gens:
                fs.delete(posixpath.join(cbase, d))
                removed_g.append(d)
        return removed_e, sorted(removed_g)

    expired, (removed_e, removed_g) = epochs_io.vacuum(
        path, fs, retain_last, lambda: _ivf_manifest(path, fs), sweep
    )
    return {
        "epochs_removed": removed_e,
        "centroid_gens_removed": removed_g,
        "history_expired": [str(s) for s in expired],
    }
