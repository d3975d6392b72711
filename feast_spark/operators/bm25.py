"""BM25 lexical retrieval over a document corpus — the keyword side of
hybrid (lexical + vector) search; companion to ``operators.similarity``
(cosine/IVF/PQ ANN over the embedding column).

Okapi BM25 with the Lucene idf variant (public formula):

    idf(t)      = ln( (N - df_t + 0.5) / (df_t + 0.5) + 1 )
    score(d, q) = sum_t idf(t) * tf_td * (k1 + 1)
                  / (tf_td + k1 * (1 - b + b * len_d / avg_len))

Scale shape: the query's terms are filtered INSIDE the token array
before any explode row survives, so the (doc, term) aggregation moves
only the postings of the query terms — O(docs containing a query
term), not O(corpus tokens) — and doc length rides through that
aggregate (no separate lengths join).  The tokenizer runs once per
consumer — the corpus-stats aggregate and the postings branch; two
narrow passes total, with nothing corpus-sized shuffled by either.
Corpus stats (N, avg_len) ride in as a broadcast one-row aggregate;
doc-frequencies are a second tiny aggregate over the same filtered
postings.  The final top-k is orderBy+limit = per-partition heaps + a
k-row merge (TakeOrderedAndProject), never a global sort.  Everything
is built-in column expressions — no Python on executors — and the
whole formula is mirrored in the DuckDB differential test
term-for-term.
"""

from __future__ import annotations

import hashlib
import json
import posixpath

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from feast_spark.functions.text import normalize_text, tokens
from feast_spark.io import epochs as epochs_io
from feast_spark.io.localframe import local_df
from feast_spark.io.pread import read_parquet_memo
from feast_spark.io.fs import LocalFS, StoreFS

__all__ = [
    "normalize_query_terms",
    "bm25_topk",
    "bm25_topk_batch",
    "hybrid_topk",
    "hybrid_topk_batch",
    "build_bm25_index",
    "bm25_index_topk",
    "bm25_index_topk_batch",
    "hybrid_index_topk",
    "hybrid_index_topk_batch",
    "bm25_index_stats",
    "bm25_index_append",
    "bm25_index_compact",
    "bm25_index_vacuum",
]


def normalize_query_terms(query: list[str]) -> list[str]:
    """The single-call query-term normalization (lowercase, drop
    empties/Nones, dedup, sort), shared by ``bm25_topk`` /
    ``bm25_index_topk`` and ``serving.BM25QueryCoalescer`` — ONE
    implementation so the pinned coalesced==single-call identity can
    never drift on a normalization change.  Raises when nothing
    survives, and on non-string elements (a clear ValueError instead
    of an AttributeError off ``.lower()`` — the coalescer re-types
    both as the client's fault)."""
    if not all(t is None or isinstance(t, str) for t in query):
        raise ValueError("query terms must be strings")
    terms = sorted({t.lower() for t in query if t})
    if not terms:
        raise ValueError("query must contain at least one non-empty term")
    return terms


def _score_postings(
    tf: DataFrame,
    stats: DataFrame,
    id_col: str,
    k1: float,
    b: float,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: (id, term, tf, len_d) postings + one-row
    (n_docs, avg_len) stats -> per-doc summed BM25.  df_t defaults to a
    count over the postings themselves, so the inline and
    persisted-index paths score identically by construction; the
    persisted-index path passes the (exact-long, bit-identical) df_t
    summed from its per-epoch sidecar instead, removing the per-query
    aggregate over postings."""
    if dfreq is None:
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("len_d") / F.col("avg_len"))
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("bm25"))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a keyword query by BM25 score (ties broken
    by ascending id for cross-engine determinism).  Query terms are
    normalized the same way the corpus is (lowercase); duplicate query
    terms count once — the standard bag-of-words-query simplification."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = normalize_query_terms(query)

    from feast_spark.operators.docdedup import widen_parallelism

    # tokenization is CPU-bound: widen a few-files scan up to the
    # session parallelism (no-op at scale, where file count >> cores —
    # same stance as the docdedup operators)
    df = widen_parallelism(df)
    # tokenize ONCE into (len_d, query-term subset); the two consumers
    # (corpus stats, postings) each run the tokenizer a single time —
    # and len_d rides through the posting aggregate, so no separate
    # lengths join re-tokenizes a third time
    feat = df.select(
        F.col(id_col),
        F.size(tokens(normalize_text(F.col(text_col)))).alias("len_d"),
        F.filter(
            tokens(normalize_text(F.col(text_col))),
            lambda t: t.isin(terms),
        ).alias("__qt"),
    )
    # doc lengths BEFORE the query filter (BM25 normalizes by full doc
    # length); one narrow agg — map-side combined
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("len_d").alias("avg_len"),
    )
    from feast_spark.functions.text import explode_computed

    tf = (
        explode_computed(feat, [id_col, "len_d"], "__qt", "term")
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.first("len_d").alias("len_d"),
        )
    )
    scored = _score_postings(tf, stats, id_col, k1, b)
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    fetch_k: int = 50,
    rrf_k: int = 60,
    query_vec_id=-1,
) -> DataFrame:
    """Hybrid retrieval: lexical BM25 + vector cosine fused by
    Reciprocal Rank Fusion (Cormack et al., SIGIR'09 — public method):

        rrf(d) = sum over channels  1 / (rrf_k + rank_channel(d))

    RRF is rank-based, so the two channels' incomparable score scales
    never need normalizing, and the result is deterministic.  Each
    channel fetches its own top ``fetch_k`` (cheap: both channels are
    top-k plans — TakeOrderedAndProject over one narrow pass), the two
    k-row lists full-outer join on id (driver-trivial row counts), and
    the fused top-k is re-ranked with ties broken by id.

    ``docs`` and ``embeddings`` are joined by id equality
    (``id_col`` <-> ``emb_id_col``); a document missing from either
    channel simply scores on the one it appears in.

    ``query_vec_id`` is the synthetic id given to the query vector —
    it is typed to match the embeddings id column (string id tables
    work) and MUST NOT collide with a real corpus id (cosine_topk's
    self-exclusion would silently drop that document; pass e.g.
    ``"__query__"`` for string ids, or any id outside your range)."""
    from feast_spark.operators.similarity import cosine_topk

    if fetch_k < k:
        raise ValueError(f"fetch_k ({fetch_k}) must be >= k ({k})")
    lex = bm25_topk(docs, id_col, text_col, query_terms, k=fetch_k)
    lex = lex.select(
        F.col(id_col).alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc()))
        .alias("lex_rank"),
    )
    # build the one-row query schema structurally (StructType, not an
    # f-string DDL) so id/vec column names containing spaces, dots, or
    # commas can't break schema parsing
    from pyspark.sql.types import StructField, StructType

    qdf = local_df(
        embeddings.sparkSession,
        [(query_vec_id, [float(x) for x in query_vec])],
        StructType(
            [
                StructField(
                    emb_id_col, embeddings.schema[emb_id_col].dataType
                ),
                StructField(vec_col, embeddings.schema[vec_col].dataType),
            ]
        ),
    )
    vec = cosine_topk(
        embeddings, qdf, id_col=emb_id_col, vec_col=vec_col, k=fetch_k
    ).select(
        F.col("neighbor_id").alias("id"),
        F.col("rank").alias("vec_rank"),
    )
    return _rrf_fuse(lex, vec, rrf_k, k)


def _rrf_fuse(
    lex: DataFrame, vec: DataFrame, rrf_k: int, k: int
) -> DataFrame:
    """Fuse two (id, *_rank) channel rankings by RRF; shared by the
    inline and persisted-index hybrid paths.

    Spelled as UNION + max-aggregate, not a full-outer join: each
    channel emits at most one row per id, so the two are equivalent —
    but the join shuffled BOTH channels on the join key while the
    union aggregates with one exchange (and the r16 measurement showed
    the per-query batch variant paying three exchanges for the
    join+window spelling)."""
    fused = (
        lex.select(
            "id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.lit(None).cast("int").alias("vec_rank"),
        )
        .unionByName(
            vec.select(
                "id",
                F.lit(None).cast("int").alias("lex_rank"),
                F.col("vec_rank").cast("int").alias("vec_rank"),
            )
        )
        .groupBy("id")
        .agg(
            F.max("lex_rank").alias("lex_rank"),
            F.max("vec_rank").alias("vec_rank"),
        )
        # SQL-text twin of the former withColumn (identical tree)
        .selectExpr(
            "id",
            "lex_rank",
            "vec_rank",
            f"coalesce(1.0D / ({int(rrf_k)} + lex_rank), 0.0D) + "
            f"coalesce(1.0D / ({int(rrf_k)} + vec_rank), 0.0D) AS rrf",
        )
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("id").asc()).limit(k)


def _rrf_fuse_batch(
    lex: DataFrame, vec: DataFrame, rrf_k: int, k: int
) -> DataFrame:
    """Per-query RRF fusion of two (query_id, id, *_rank) channel
    rankings; shared by the inline and persisted-index batch hybrids.

    UNION + repartition(query_id) + max-aggregate instead of a
    full-outer join: equivalent (one row per (query_id, id) per
    channel), and the single query_id exchange serves the aggregate
    (subset partitioning) AND the per-query ranking window — the join
    spelling paid two (query_id, id) child exchanges plus a third for
    the window."""
    fused = (
        lex.select(
            "query_id", "id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.lit(None).cast("int").alias("vec_rank"),
        )
        .unionByName(
            vec.select(
                "query_id", "id",
                F.lit(None).cast("int").alias("lex_rank"),
                F.col("vec_rank").cast("int").alias("vec_rank"),
            )
        )
        .repartition("query_id")
        .groupBy("query_id", "id")
        .agg(
            F.max("lex_rank").alias("lex_rank"),
            F.max("vec_rank").alias("vec_rank"),
        )
        # SQL-text twin of the former withColumn (identical tree:
        # int literal + int rank coerced exactly as F.lit did)
        .selectExpr(
            "*",
            f"coalesce(1.0D / ({int(rrf_k)} + lex_rank), 0.0D) + "
            f"coalesce(1.0D / ({int(rrf_k)} + vec_rank), 0.0D) AS rrf",
        )
    )
    return (
        fused.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY rrf DESC, id ASC) AS __rn",
        )
        .filter(f"__rn <= {int(k)}")
        .selectExpr(
            "query_id", "id", "lex_rank", "vec_rank", "rrf", "__rn AS rank"
        )
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query BM25 top-k for a DataFrame of keyword queries — the
    retrieval-workload shape of :func:`bm25_topk`, mirroring
    ``similarity.cosine_topk`` / ``timeseries.ts_topk_similar_batch``:
    the (small) query table is broadcast; the corpus streams once.

    ``queries`` holds (query_id, terms: array<string>); terms are
    normalized to lowercase and deduplicated inside the plan.  Output:
    (query_id, doc id, bm25, rank), rank 1..k per query, ties broken
    by ascending doc id.

    Plan shape: the corpus token explode is filtered by a broadcast
    semi-join against the UNION of all query terms — so the postings
    shuffle stays O(docs containing any query's term) no matter how
    many queries ride in the batch; per-(query, doc) scores then rank
    under one hash exchange on query_id (the cosine_topk shape)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                F.transform(F.col(terms_col), lambda t: F.lower(t))
            )
        ).alias("term"),
    )
    all_terms = qt.select("term").distinct()

    from feast_spark.operators.docdedup import widen_parallelism

    df = widen_parallelism(df)  # CPU-bound tokenize; no-op at scale
    # tokenize once per consumer (stats, postings); len_d rides through
    # the posting aggregate so no third tokenizing join is needed
    feat = df.select(
        F.col(id_col),
        F.size(tokens(normalize_text(F.col(text_col)))).alias("len_d"),
        tokens(normalize_text(F.col(text_col))).alias("__toks"),
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("len_d").alias("avg_len"),
    )
    from feast_spark.functions.text import explode_computed

    posting = explode_computed(
        feat, [id_col, "len_d"], "__toks", "term"
    ).join(F.broadcast(all_terms), "term", "leftsemi")
    tf = posting.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("len_d").alias("len_d"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("len_d") / F.col("avg_len"))
            ),
        )
        # ONE exchange for the rest of the query: hash-partitioning on
        # query_id alone satisfies the (query_id, id) aggregation's
        # clustering requirement (a subset partitioning still clusters
        # every (query_id, id) group) AND the per-query ranking window
        # below, so the aggregate's own exchange and the window's
        # query_id exchange collapse into this one.  It carries raw
        # term hits instead of partially-combined (query, doc) rows —
        # at most |query terms| rows per doc, a bounded factor.
        .repartition("query_id")
        .groupBy("query_id", id_col)
        .agg(F.sum("term_score").alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", id_col, "bm25", F.col("__rn").alias("rank"))
    )


def hybrid_topk_batch(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    qvec_col: str = "qvec",
    k: int = 10,
    fetch_k: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Per-query hybrid retrieval for a DataFrame of (keyword terms,
    query vector) pairs — RRF fusion of :func:`bm25_topk_batch` and
    ``similarity.cosine_topk`` channel rankings, one corpus pass per
    channel regardless of batch size.

    ``queries`` holds (query_id, terms: array<string>, qvec:
    array<float/double>); query ids must not collide with corpus ids
    (cosine_topk's self-exclusion).  Output: (query_id, id, lex_rank,
    vec_rank, rrf, rank) with rank 1..k per query, ties by id."""
    from feast_spark.operators.similarity import cosine_topk

    if fetch_k < k:
        raise ValueError(f"fetch_k ({fetch_k}) must be >= k ({k})")
    lex = bm25_topk_batch(
        docs, queries, id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, terms_col=terms_col, k=fetch_k,
    ).select(
        "query_id", F.col(id_col).alias("id"),
        F.col("rank").alias("lex_rank"),
    )
    vec = cosine_topk(
        embeddings,
        queries.select(
            F.col(query_id_col).alias(emb_id_col),
            F.col(qvec_col).alias(vec_col),
        ),
        id_col=emb_id_col, vec_col=vec_col, k=fetch_k,
    ).select(
        "query_id", F.col("neighbor_id").alias("id"),
        F.col("rank").alias("vec_rank"),
    )
    return _rrf_fuse_batch(lex, vec, rrf_k, k)


# ---------------------------------------------------------------------------
# Persisted lexical index — build once, query many times
# ---------------------------------------------------------------------------
#
# The retrieval-SERVICE shape of bm25_topk: bm25_topk re-tokenizes and
# re-scans the whole corpus on every call (correct for one-off batch
# scoring), which at 100 TB makes every query a full-corpus job.  The
# index pays that tokenize/aggregate cost ONCE per document and
# persists, under the epoch-append protocol of
# operators/minhash_index.py:
#
#   {root}/postings/epoch=N : (term, doc id, tf, len_d),
#                             partitionBy(bucket) within the epoch
#   {root}/stats/epoch=N    : one row (n_docs, total_len) for the slice
#   {root}/_MANIFEST.json   : committed epoch list + bucketing params
#
# A writer stages its epoch directories first, then one atomic
# manifest flip publishes them; readers resolve the manifest, so a
# crashed build/append/compact is invisible and postings are always
# consistent with the stats they were computed with.  Appends cost
# O(new docs) — history is never rewritten; per-epoch stats SUM to the
# corpus stats exactly (longs), so avg_len after an append equals a
# full rebuild's.  A query computes its terms' buckets DRIVER-SIDE
# (md5-prefix bucketing, reproducible in any engine) and reads only
# those bucket directories under the committed epochs: partition
# pruning makes the scan O(query-term postings), independent of corpus
# size — the build_ivf_index pattern applied to the lexical channel.
# Reference parity: Feast has no retrieval ops at all
# (training-pipeline extension, SURVEY §2.6).


def term_bucket(term: str, n_buckets: int) -> int:
    """Bucket id of a (lowercased) term — md5-prefix mod n_buckets,
    identical to the plan-side expression (md5 is bit-stable across
    Spark / DuckDB / Python, so drivers and oracles can reproduce the
    pruning set)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket_expr(term, n_buckets: int):
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


_BM25_SUBDIRS = ("postings", "stats", "dfreq")


def _bm25_manifest(
    path: str, fs: StoreFS, as_of: int | str | None = None
) -> dict:
    return epochs_io.read_manifest(
        path,
        fs,
        required_keys=("epochs", "n_term_buckets", "id_col", "text_col"),
        kind="BM25 index",
        kind_id="bm25",
        as_of_seq=as_of,
    )


def _bm25_commit(path: str, fs: StoreFS, manifest: dict) -> None:
    epochs_io.commit_manifest(path, fs, manifest)


def _bm25_next_epoch(path: str, fs: StoreFS, committed: list[int]) -> int:
    return epochs_io.next_epoch(path, fs, committed, _BM25_SUBDIRS)


def _bm25_doc_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_term_buckets: int,
    stopwords: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """(postings, slice-stats) for a batch of documents — the one
    tokenize/aggregate pass per document the index ever pays.  Stats
    are kept as EXACT longs (n_docs, total_len) so per-epoch rows sum
    to the corpus totals and avg_len never drifts across appends.

    ``stopwords`` drop their POSTINGS only: ``len_d`` still counts
    every token, so n_docs/avg_len/len_d — and therefore the score of
    every non-stopword term — are BIT-IDENTICAL to an index built
    without the stopword list (pinned by tests).  Dropping the tokens
    from len_d too would be a different scoring model, not a storage
    optimization."""
    from feast_spark.operators.docdedup import widen_parallelism

    feat = widen_parallelism(df).select(
        F.col(id_col),
        F.size(tokens(normalize_text(F.col(text_col)))).alias("len_d"),
        tokens(normalize_text(F.col(text_col))).alias("__toks"),
    )
    from feast_spark.functions.text import explode_computed

    exploded = explode_computed(feat, [id_col, "len_d"], "__toks", "term")
    if stopwords:
        exploded = exploded.filter(~F.col("term").isin(*stopwords))
    posting = (
        exploded
        .groupBy("term", id_col)
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.first("len_d").alias("len_d"),
        )
        .withColumn("bucket", _term_bucket_expr(F.col("term"), n_term_buckets))
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len_d").cast("long").alias("total_len"),
    )
    return posting, stats


def _bm25_write_epoch(
    path: str, epoch: int, posting: DataFrame, stats: DataFrame
) -> None:
    pdir = posixpath.join(path, "postings", f"epoch={epoch}")
    posting.write.mode("errorifexists").partitionBy("bucket").parquet(pdir)
    stats.coalesce(1).write.mode("errorifexists").parquet(
        posixpath.join(path, "stats", f"epoch={epoch}")
    )
    # Per-term doc-frequency SIDECAR, derived from the postings epoch
    # that was just WRITTEN (a cheap read-back + aggregate over compact
    # parquet — never a second tokenize pass).  Serving sums the
    # per-epoch longs per term instead of aggregating postings per
    # query (doc ids are unique across epochs by the append contract,
    # so the sum is the exact df_t a postings count would produce).
    # Bucket-partitioned like postings, so queries prune to the same
    # bucket dirs; one file per bucket (repartition before partitionBy).
    spark = posting.sparkSession
    ddir = posixpath.join(path, "dfreq", f"epoch={epoch}")
    try:
        written = spark.read.parquet(pdir)
        dfreq = (
            written.groupBy("bucket", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("df_t"))
            .repartition("bucket")
            .select("term", "df_t", "bucket")
        )
    except AnalysisException as e:
        # an all-stopword/blank slice writes a postings epoch with zero
        # part files (tolerated by the multi-path reads); mirror it.
        # ONLY the schema-inference failure of an empty dir is the
        # empty-epoch signature — anything else (FS hiccup, corrupt
        # footer) must fail the write loudly: committing an empty
        # sidecar for a NON-empty postings epoch would silently drop
        # that epoch's terms from every sidecar-served score.
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        dfreq = spark.createDataFrame(
            [], "term STRING, df_t BIGINT, bucket INT"
        )
    dfreq.write.mode("errorifexists").partitionBy("bucket").parquet(ddir)


def build_bm25_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
    fs: StoreFS | None = None,
    stopwords: list[str] | None = None,
) -> None:
    """Tokenize the corpus ONCE and commit epoch 0 of the postings +
    stats tables (stage dirs, then one atomic manifest flip; see module
    comment).  Build cost: one corpus scan + one (doc, term) aggregate
    — the same work a single bm25_topk call does, amortized over every
    future query.  Grow it with ``bm25_index_append`` (O(new docs)),
    reset the epoch count with ``bm25_index_compact``.

    ``n_term_buckets`` bounds how much a query over t terms must list:
    t bucket directories per epoch.  Size it so a bucket's postings fit
    a scan task comfortably (buckets are md5-uniform over terms; heavy
    terms skew bucket BYTES, which parquet splitting re-balances).

    ``stopwords``: terms whose postings are NOT stored (normalized
    like the corpus: lowercased, deduped).  One hot term's postings
    skew its bucket and every query hashing there pays the read; more
    buckets cannot split a single term, so the fix is to stop storing
    it (the advisor recommends this list — ``index_advise``'s
    hot-term branch).  Doc LENGTHS still count stopword tokens, so
    every non-stopword score is bit-identical to an unfiltered index;
    queries on a stopword score it as absent-everywhere (postings
    gone), matching "treat it as a stopword upstream".  The list is
    committed in the manifest; appends apply it automatically."""
    fs = fs or LocalFS()
    stop = tuple(sorted({t.lower() for t in (stopwords or []) if t}))
    posting, stats = _bm25_doc_tables(
        df, id_col, text_col, n_term_buckets, stop
    )
    if posting.limit(1).count() == 0:
        # a zero-row partitioned write emits no parquet part files, so
        # every later read of the epoch would fail schema inference —
        # refuse up front instead of committing an unreadable index.
        # Checked on POSTINGS, not input rows: a corpus of all-blank/
        # NULL texts tokenizes to zero postings too.
        raise ValueError(
            "cannot build a BM25 index from a corpus with no postings "
            "(empty, or all texts tokenize to nothing)"
        )
    epoch = _bm25_next_epoch(path, fs, [])
    _bm25_write_epoch(path, epoch, posting, stats)
    carried = epochs_io.carried_meta(path, fs)
    _bm25_commit(
        path,
        fs,
        {
            **carried,
            "kind": "bm25",
            "epochs": [epoch],
            # epochs whose df_t sidecar exists: serving skips the
            # per-query postings aggregate iff every live epoch has one
            "dfreq_epochs": [epoch],
            "n_term_buckets": n_term_buckets,
            "id_col": id_col,
            "text_col": text_col,
            "stopwords": list(stop),
        },
    )


def bm25_index_append(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    fs: StoreFS | None = None,
    meta: dict | None = None,
) -> None:
    """Fold a new document slice into the index as a new epoch: one
    tokenize/aggregate pass over the NEW docs only, then the atomic
    manifest flip publishes postings and stats together — history is
    never rewritten.  Scores after an append equal a full rebuild on
    the union (exact-long stats summation; identity pinned by tests):
    note that idf and length normalization shift for EXISTING docs too,
    because n_docs/avg_len are corpus-wide — that is correct BM25, not
    drift.  Doc-id uniqueness across epochs is the caller's contract
    (same as every append index here).

    ``meta`` keys merge into the manifest in the SAME atomic flip that
    publishes the epoch — how the streaming sink records its
    exactly-once epoch watermark (streaming/index_sink.py)."""
    fs = fs or LocalFS()
    manifest = _bm25_manifest(path, fs)
    if new_df.limit(1).count() == 0:
        return  # nothing to fold in: an empty slice
    # NOT gated on postings emptiness: a non-empty slice whose every
    # token is a committed stopword (or blank) still has docs whose
    # n_docs/total_len belong in the stats table — dropping them would
    # break the bit-identical-to-unfiltered n_docs/avg_len contract
    # (and desync the hybrid pair, whose vector side appends them).
    # The postings epoch dir may then hold zero part files, which the
    # multi-path epoch reads tolerate (pinned by tests).
    posting, stats = _bm25_doc_tables(
        new_df,
        manifest["id_col"],
        manifest["text_col"],
        manifest["n_term_buckets"],
        tuple(manifest.get("stopwords", [])),
    )
    epoch = _bm25_next_epoch(path, fs, manifest["epochs"])
    _bm25_write_epoch(path, epoch, posting, stats)
    _bm25_commit(
        path,
        fs,
        {
            **manifest,
            **(meta or {}),
            "epochs": sorted(manifest["epochs"] + [epoch]),
            "dfreq_epochs": sorted(
                manifest.get("dfreq_epochs", []) + [epoch]
            ),
        },
    )


def bm25_index_compact(
    spark: SparkSession, path: str, fs: StoreFS | None = None
) -> None:
    """Rewrite every committed epoch into ONE new epoch — no
    re-tokenizing, scores identical (pinned by tests).  Daily appends
    accumulate epoch directories and every query lists
    O(epochs x query-term buckets) paths; compaction resets that to one
    per bucket.  Stage-then-flip like append; superseded epochs stay on
    disk until ``bm25_index_vacuum`` (OPTIMIZE-then-VACUUM split), so
    in-flight readers of the old manifest keep working."""
    fs = fs or LocalFS()
    manifest = _bm25_manifest(path, fs)
    epochs = manifest["epochs"]
    if len(epochs) <= 1:
        return
    merged = _bm25_next_epoch(path, fs, epochs)
    posting = spark.read.option(
        "basePath", posixpath.join(path, "postings")
    ).parquet(*epochs_io.epoch_paths(path, "postings", epochs)).drop("epoch")
    stats = (
        read_parquet_memo(spark, *epochs_io.epoch_paths(path, "stats", epochs))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
    )
    _bm25_write_epoch(path, merged, posting, stats)
    _bm25_commit(
        path, fs,
        {**manifest, "epochs": [merged], "dfreq_epochs": [merged]},
    )


def bm25_index_vacuum(
    path: str, fs: StoreFS | None = None, retain_last: int = 0
) -> dict:
    """Delete epoch directories the committed manifest no longer lists
    (compaction leftovers, crashed-writer orphans).  Returns
    ``{"postings": [...], "stats": [...], "history_expired": [...]}``.
    Never touches a dir the current manifest references.

    ``retain_last`` keeps the N most recent archived commits readable:
    their epochs are protected from deletion and their ``_history``
    entries survive, so ``bm25_index_topk(as_of=seq)`` works across
    the window — which doubles as the in-flight-reader grace window
    (a reader that resolved manifest N scans exactly manifest N's
    directories).  With the default 0 only the head stays readable —
    run vacuum once readers of the previous manifest have drained
    (the Delta/Iceberg VACUUM contract)."""
    fs = fs or LocalFS()
    expired, removed = epochs_io.vacuum(
        path, fs, retain_last, lambda: _bm25_manifest(path, fs),
        lambda head, protected, _: epochs_io.vacuum_epochs(
            path, fs, head["epochs"], _BM25_SUBDIRS, protect_epochs=protected
        ),
    )
    removed["history_expired"] = [str(s) for s in expired]
    return removed


def _index_postings(
    spark: SparkSession,
    path: str,
    terms: list[str] | None = None,
    fs=None,
    terms_df: DataFrame | None = None,
    as_of: int | str | None = None,
):
    """(postings-for-terms, one-row stats, id_col) from a persisted
    index; the bucket IN-list is computed driver-side so the parquet
    scan lists only the query terms' bucket directories under the
    committed epochs (partition pruning).  Stats sum the per-epoch
    exact longs — identical to what one aggregate over the whole
    corpus would produce.

    Two term-set shapes: a driver-side ``terms`` list (buckets AND the
    term filter become pushed-down literals — best row-group skipping;
    right when the vocabulary is human-sized) or a ``terms_df`` frame
    of distinct terms (only the distinct BUCKET ids are collected —
    bounded by ``n_term_buckets``, a structural constant, never by the
    batch's vocabulary — and the term filter is an UNHINTED semi-join
    against the frame, broadcast by AQE only while it is genuinely
    small; right for huge batches).

    ``as_of`` resolves the manifest archived at that ``commit_seq``
    instead of head (time travel): epoch dirs are write-once, so the
    historical epoch list reads exactly the bytes head served then,
    and the stats cache key carries the epoch tuple so head and
    historical reads never cross-contaminate."""
    fs = fs or LocalFS()
    manifest = _bm25_manifest(path, fs, as_of=as_of)
    n_buckets = manifest["n_term_buckets"]
    id_col = manifest["id_col"]
    epochs = manifest["epochs"]
    if (terms is None) == (terms_df is None):
        raise ValueError("pass exactly one of terms / terms_df")
    # the index stores no postings for its committed stopwords — drop
    # them from the term set up front so their (hot) buckets are never
    # listed or scanned; an all-stopword query reads nothing and
    # scores no documents, which is exactly what the stored index says
    stop = manifest.get("stopwords", [])
    if stop and terms is not None:
        terms = [t for t in terms if t not in set(stop)]
    elif stop:
        terms_df = terms_df.filter(~F.col("term").isin(*stop))
    if terms is not None:
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    else:
        buckets = sorted(
            r["b"]
            for r in terms_df.select(
                _term_bucket_expr(F.col("term"), n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )  # bounded collect: at most n_term_buckets ints
    postings = (
        read_parquet_memo(
            spark,
            *epochs_io.epoch_paths(path, "postings", epochs),
            base_path=posixpath.join(path, "postings"),
        )
        .filter(
            F.col("bucket").isin(buckets) if buckets else F.lit(False)
        )
    )
    if terms is not None:
        postings = (
            postings.filter(F.col("term").isin(terms))
            if terms
            else postings
        )
    else:
        # NO broadcast hint: a forced broadcast would pull the whole
        # vocabulary back through the driver — the bound this path
        # exists to avoid.  Catalyst/AQE broadcasts small frames on
        # its own and falls back to a shuffle join for huge ones.
        postings = postings.join(terms_df, "term", "leftsemi")
    postings = postings.drop("bucket", "epoch")
    # df_t from the per-epoch SIDECAR (written by build/append/compact
    # since r17) instead of a per-query aggregate over the postings:
    # available iff every live epoch carries one (older indexes fall
    # back to the postings aggregate in _score_postings).
    dfreq = None
    if set(epochs) <= set(manifest.get("dfreq_epochs", [])):
        if terms is not None:
            # human-sized term list: tiny bucket-pruned sidecar files
            # read driver-side (the _corpus_stats discipline) into a
            # literal LocalRelation — zero Spark jobs for df_t
            dmap = _dfreq_terms(path, epochs, buckets, terms, fs)
            dfreq = local_df(
                spark, sorted(dmap.items()), "term STRING, df_t BIGINT"
            )
        else:
            # huge-batch shape: nothing vocabulary-sized through the
            # driver — scan the sidecar (bucket-pruned), semi-join the
            # batch terms, sum the per-epoch longs.  Still never an
            # aggregate over postings.
            dfreq = (
                read_parquet_memo(
                    spark,
                    *epochs_io.epoch_paths(path, "dfreq", epochs),
                    base_path=posixpath.join(path, "dfreq"),
                )
                .filter(
                    F.col("bucket").isin(buckets) if buckets else F.lit(False)
                )
                .join(terms_df, "term", "leftsemi")
                .groupBy("term")
                .agg(F.sum("df_t").cast("long").alias("df_t"))
            )
    n_docs, total_len = _corpus_stats(path, epochs, fs)
    # literal one-row frame instead of a per-query stats scan+agg:
    # float(total)/float(n) is the identical IEEE sequence Spark's
    # long-division performed (cast both to double, then divide), so
    # scores are bit-identical even past 2^53 total tokens
    # local_df: a LocalRelation, so the broadcast build over this
    # one-row frame never spins a pickled-RDD Python stage (guide §4)
    stats = local_df(
        spark,
        [(n_docs, (float(total_len) / float(n_docs)) if n_docs else None)],
        "n_docs LONG, avg_len DOUBLE",
    )
    return postings, stats, id_col, dfreq


def _dfreq_terms(
    path: str,
    epochs: list[int],
    buckets: list[int],
    terms: list[str],
    fs,
) -> dict[str, int]:
    """(term -> df_t) for the query's terms, summed over the committed
    epochs' dfreq sidecars — tiny bucket-pruned parquet read driver-side
    via pyarrow (the ``_corpus_stats`` pattern).  Cached per
    (path, epochs, bucket): each term hashes to exactly one bucket, so
    a bucket's map is the complete df_t table for every term in it;
    write-once epoch dirs make the key immutable."""
    from feast_spark.io import model_cache

    def _load_bucket(b: int) -> dict[str, int]:
        import io as _io

        import pyarrow.parquet as pq

        agg: dict[str, int] = {}
        for d in epochs_io.epoch_paths(path, "dfreq", epochs):
            bd = posixpath.join(d, f"bucket={b}")
            if not fs.exists(bd):
                continue  # no terms of this bucket in this epoch
            for name in sorted(fs.list_files(bd)):
                if not name.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    _io.BytesIO(fs.read_bytes(posixpath.join(bd, name))),
                    columns=["term", "df_t"],
                )
                for term, v in zip(
                    t.column("term").to_pylist(), t.column("df_t").to_pylist()
                ):
                    agg[term] = agg.get(term, 0) + int(v)
        return agg

    out: dict[str, int] = {}
    for b in buckets:
        bmap = model_cache.get_or_load(
            ("bm25_dfreq", fs.cache_token(), path, tuple(epochs), b),
            lambda b=b: _load_bucket(b),
        )
        for t in terms:
            if t in bmap:
                out[t] = bmap[t]
    return out


def _corpus_stats(path: str, epochs: list[int], fs) -> tuple[int, int]:
    """(n_docs, total_len) summed over the committed epochs' exact
    per-epoch longs, read driver-side via pyarrow (a few tiny files —
    the Spark scan+agg it replaces cost a job per query).  Cached
    across queries (``io/model_cache.py``): epoch dirs are write-once
    and the key carries the committed epoch list, so an append or
    compact flips the key and misses onto fresh totals."""
    from feast_spark.io import model_cache

    def _load() -> tuple[int, int]:
        import io as _io

        import pyarrow.parquet as pq

        n_docs = 0
        total_len = 0
        for d in epochs_io.epoch_paths(path, "stats", epochs):
            for name in sorted(fs.list_files(d)):
                if not name.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    _io.BytesIO(fs.read_bytes(posixpath.join(d, name))),
                    columns=["n_docs", "total_len"],
                )
                n_docs += sum(t.column("n_docs").to_pylist())
                total_len += sum(t.column("total_len").to_pylist())
        return n_docs, total_len

    return model_cache.get_or_load(
        ("bm25_stats", fs.cache_token(), path, tuple(epochs)), _load
    )


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    query: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    fs=None,
    as_of: int | str | None = None,
) -> DataFrame:
    """Top-k BM25 against a persisted index — identical scores and
    ranking to ``bm25_topk`` on the indexed corpus (pinned by tests),
    but the per-query cost is O(query-term postings) instead of a
    corpus scan.  df_t comes from the loaded postings themselves, so
    no separate doc-frequency table can drift out of sync.  Query
    terms on the index's committed stopword list are dropped before
    any bucket is listed (their postings were never stored); a query
    of ONLY stopwords returns an empty top-k — "no documents match" is
    what the stored index says — rather than raising.

    ``as_of=commit_seq`` time-travels: scores are computed against the
    manifest archived at that commit (epochs AND corpus stats AND the
    then-committed stopword list), bit-identical to what head served
    at that commit — pinned by tests.  Vacuum's ``retain_last``
    bounds the window."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = normalize_query_terms(query)
    tf, stats, id_col, dfreq = _index_postings(
        spark, path, terms, fs=fs, as_of=as_of
    )
    scored = _score_postings(tf, stats, id_col, k1, b, dfreq=dfreq)
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def bm25_index_topk_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    fs=None,
    max_terms_inlist: int = 4096,
    as_of: int | str | None = None,
) -> DataFrame:
    """Per-query BM25 top-k against a persisted index — the
    ``bm25_topk_batch`` output contract ((query_id, id, bm25, rank)),
    reading only the batch's term buckets.

    Driver-side collects are BOUNDED either way: up to
    ``max_terms_inlist`` distinct terms the term set itself comes back
    and both the bucket list and the term filter are pushed-down
    literals (best row-group skipping — the human-sized-query case);
    past the cap only the distinct BUCKET ids are collected (at most
    ``n_term_buckets``, a structural constant independent of the
    batch), the term filter becomes a semi-join against the
    distinct-terms frame, and every batch-vocabulary-sized join side
    (the terms frame, the (query, term) pairs, the per-term doc
    frequencies) is left UNHINTED so Catalyst/AQE broadcasts it only
    while it is actually small and shuffle-joins it once it is not —
    nothing vocabulary-sized is forced through the driver."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                F.transform(F.col(terms_col), lambda t: F.lower(t))
            )
        ).alias("term"),
    ).filter(F.col("term").isNotNull() & (F.col("term") != ""))
    qterms = qt.select("term").distinct()
    from feast_spark.io.localframe import is_local_relation

    if is_local_relation(queries):
        # Serving-path batches arrive as LocalRelations (request-sized
        # by construction): derive the distinct term set driver-side
        # with ZERO Spark jobs — a bare LocalRelation collect spawns
        # no tasks, while the qterms probe below runs the explode +
        # distinct shuffle as its own 2-job AQE round before the real
        # query even starts.  Same normalization as the SQL pipeline
        # (lower, drop null/empty, dedup) and the single-query path.
        lrows = queries.select(terms_col).collect()
        flat = [t for r in lrows for t in (r[0] or [])]
        # ONE normalization implementation (lower/drop-empty/dedup/
        # sort), shared with the single-query path so the pinned
        # batch==single identity can never drift; its empty-set
        # ValueError carries the same "non-empty term" signature
        sample = normalize_query_terms(flat) if flat else []
    else:
        sample = [
            r["term"] for r in qterms.limit(max_terms_inlist + 1).collect()
        ]
    if not sample:
        raise ValueError("queries must contain at least one non-empty term")
    small_batch = len(sample) <= max_terms_inlist
    if small_batch:
        terms = sorted(sample)
        tf, stats, id_col, dfreq = _index_postings(
            spark, path, terms, fs=fs, as_of=as_of
        )
    else:
        tf, stats, id_col, dfreq = _index_postings(
            spark, path, fs=fs, terms_df=qterms, as_of=as_of
        )
    if dfreq is None:  # pre-sidecar index: aggregate postings per call
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # dfreq is vocabulary-bounded: hint it broadcast only below the
    # term cap.  qt is (query, term)-PAIR sized — it scales with the
    # BATCH, not the vocabulary, so it is never hinted: AQE broadcasts
    # it while small and shuffle-joins a huge batch instead of forcing
    # it through the driver.
    dfreq_side = F.broadcast(dfreq) if small_batch else dfreq
    # the BM25 arithmetic as ONE selectExpr — the exact expression tree
    # the former two withColumns built (same Python-folded literals,
    # same association order, so every float is bit-identical; pinned
    # by the inline-vs-index exact-equality tests), minus ~15 py4j
    # round trips of per-call plan construction
    from feast_spark.functions.text import sql_ident as _si
    from feast_spark.operators.similarity import _sql_double as _sd

    idf_sql = (
        "ln(((n_docs - df_t) + 0.5D) / (df_t + 0.5D) + 1.0D)"
    )
    score_sql = (
        f"({idf_sql} * tf) * {_sd(k1 + 1)} / "
        f"(tf + {_sd(k1)} * ({_sd(1 - b)} + ({_sd(b)} * len_d) / avg_len))"
    )
    scored = (
        tf.join(dfreq_side, "term")
        .join(qt, "term")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "query_id", _si(id_col), f"{score_sql} AS term_score"
        )
        # ONE exchange for the rest of the query: hash-partitioning on
        # query_id alone satisfies the (query_id, id) aggregation's
        # clustering requirement (a subset partitioning still clusters
        # every (query_id, id) group) AND the per-query ranking window
        # below, so the aggregate's own exchange and the window's
        # query_id exchange collapse into this one.  It carries raw
        # term hits instead of partially-combined (query, doc) rows —
        # at most |query terms| rows per doc, a bounded factor.
        .repartition("query_id")
        .groupBy("query_id", id_col)
        .agg(F.sum("term_score").alias("bm25"))
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            f"ORDER BY bm25 DESC, {_si(id_col)} ASC) AS __rn",
        )
        .filter(f"__rn <= {int(k)}")
        .selectExpr("query_id", _si(id_col), "bm25", "__rn AS rank")
    )


def hybrid_index_topk(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame | None,
    query_terms: list[str],
    query_vec: list[float],
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    fetch_k: int = 50,
    rrf_k: int = 60,
    query_vec_id=-1,
    fs=None,
    vec_index_path: str | None = None,
    n_probe: int = 4,
    vec_index_kind: str = "auto",
    on_corpus_mismatch: str = "fail",
    as_of: tuple[int | str, int | str] | None = None,
) -> DataFrame:
    """:func:`hybrid_topk` with the lexical channel served from a
    persisted BM25 index — same output contract and fusion (shared
    ``_rrf_fuse``), but the per-query lexical cost is the pruned
    postings read, not a corpus scan.

    The vector channel has three modes:

    - ``vec_index_path`` + kind ``ivf``: top-k from the persisted IVF
      index (``similarity.ivf_index_topk``) — the vectors scan reads
      only the ``n_probe`` probed cells, so BOTH channels are
      index-pruned and the per-query cost is independent of corpus
      size.  ``embeddings`` may be ``None`` in this mode.  At
      ``n_probe >=`` the index's centroid count the channel is exactly
      the brute scan (pytest-pinned identity).
    - kind ``ivfpq``: top-k from the persisted IVFPQ index
      (``pq_index.ivfpq_index_topk``) — probed cells again, but the
      read moves PQ CODE bytes and ranks by asymmetric distance; RRF
      consumes only the rank, so the lossy-but-ordered ADC channel
      fuses exactly like the exact one.  The memory-bound serving
      stack for corpora whose float vectors dwarf storage.
    - otherwise: brute-force :func:`~feast_spark.operators.similarity.
      cosine_topk` over ``embeddings`` — correct for one-off batch use
      or when no ANN index exists, but a full corpus scan per query.

    ``vec_index_kind="auto"`` (default) reads the kind from the
    index's committed manifest stamp
    (``vector_index.vector_index_kind``) — callers need not carry
    knowledge the store already has; pass an explicit kind only to
    FAIL FAST when the path must be of that kind.

    When both indexes carry a paired ``corpus_epoch`` stamp
    (``operators/paired_index.py``), the stamps are validated per
    query: unequal tokens mean a paired append crashed between the
    two commits and RRF would fuse mismatched corpora —
    ``on_corpus_mismatch`` picks fail (default) / warn / ignore.

    ``as_of=(bm25_seq, vec_seq)`` time-travels BOTH channels to the
    named archived commits (index-path modes only): every read —
    postings, stats, stopwords, centroids/codes, the schema probe AND
    the pair-alignment check — resolves the historical manifests, so
    the fused result is bit-identical to what head served at that pair
    of commits (pinned by tests).  Two seqs because the pair's commit
    counters are independent; the alignment stamps tie the pair
    together, the seqs name each side's commit."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from feast_spark.operators.paired_index import check_corpus_alignment
    from feast_spark.operators.similarity import cosine_topk, ivf_index_topk

    if fetch_k < k:
        raise ValueError(f"fetch_k ({fetch_k}) must be >= k ({k})")
    if vec_index_path is None and embeddings is None:
        raise ValueError("pass embeddings or vec_index_path")
    if as_of is not None and (embeddings is not None or vec_index_path is None):
        raise ValueError(
            "as_of requires both channels to be served from persisted "
            "indexes (vec_index_path, no embeddings): a brute-force "
            "scan has no commit history to travel to"
        )
    as_of_lex = as_of[0] if as_of else None
    as_of_vec = as_of[1] if as_of else None
    if vec_index_path is not None:
        check_corpus_alignment(
            index_path, vec_index_path, fs=fs,
            on_mismatch=on_corpus_mismatch, as_of=as_of,
        )
    vec_index_kind = _resolve_vec_kind(
        vec_index_kind, vec_index_path, fs, as_of=as_of_vec
    )
    lex = bm25_index_topk(
        spark, index_path, query_terms, k=fetch_k, fs=fs, as_of=as_of_lex
    )
    id_col = lex.columns[0]
    lex = lex.select(
        F.col(id_col).alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc()))
        .alias("lex_rank"),
    )
    if embeddings is not None:
        id_type = embeddings.schema[emb_id_col].dataType
        vec_type = embeddings.schema[vec_col].dataType
    elif vec_index_kind == "ivf":
        # take the id/vec types from the INDEX itself (schema-only
        # read): guessing LongType against a string-id index would
        # make the self-exclusion filter compare string to bigint —
        # NULL for every non-numeric id — and silently empty the
        # vector channel
        from feast_spark.operators.similarity import (
            _ivf_manifest,
            _ivf_vectors,
        )

        idx_schema = _ivf_vectors(
            spark, vec_index_path, fs,
            manifest=_ivf_manifest(
                vec_index_path, fs or LocalFS(), as_of=as_of_vec
            ),
        ).schema
        id_type = idx_schema["id"].dataType
        vec_type = idx_schema["vec"].dataType
    else:
        # IVFPQ stores codes, not vectors: id type from the codes
        # schema; the ADC kernel works in float64 whatever the query
        # array's element type.  The caller's fs reads the manifest —
        # the vector index lives on the same deployment store as the
        # lexical one.
        from feast_spark.operators.pq_index import _codes as _pq_codes
        from feast_spark.operators.pq_index import _manifest as _pq_manifest

        pq_manifest = _pq_manifest(
            vec_index_path, fs or LocalFS(), as_of=as_of_vec
        )
        id_type = _pq_codes(
            spark, vec_index_path, pq_manifest["epochs"]
        ).schema["id"].dataType
        vec_type = ArrayType(DoubleType())
    qdf = local_df(
        spark,
        [(query_vec_id, [float(x) for x in query_vec])],
        StructType(
            [
                StructField(emb_id_col, id_type),
                StructField(vec_col, vec_type),
            ]
        ),
    )
    if vec_index_path is not None and vec_index_kind == "ivfpq":
        topk = _ivfpq_ranked(
            spark, vec_index_path, qdf, emb_id_col, vec_col,
            n_probe, fetch_k, fs=fs, as_of=as_of_vec,
        )
    elif vec_index_path is not None:
        # driver_probe: the one query vector was just created from a
        # Python list — probing it in Python removes two Spark jobs
        # (probe + distinct-cells collect) from the serving floor
        topk = ivf_index_topk(
            spark, vec_index_path, qdf,
            id_col=emb_id_col, vec_col=vec_col, n_probe=n_probe, k=fetch_k,
            fs=fs, driver_probe=True, as_of=as_of_vec,
        )
    else:
        topk = cosine_topk(
            embeddings, qdf, id_col=emb_id_col, vec_col=vec_col, k=fetch_k
        )
    vec = topk.select(
        F.col("neighbor_id").alias("id"),
        F.col("rank").alias("vec_rank"),
    )
    return _rrf_fuse(lex, vec, rrf_k, k)


def _resolve_vec_kind(
    vec_index_kind: str, vec_index_path: str | None, fs,
    as_of: int | str | None = None,
) -> str:
    """``auto`` -> the committed manifest's kind stamp (a no-op without
    an index path: the brute channel has no kind); explicit kinds pass
    through validated, so a caller pinning ``ivf`` against an ``ivfpq``
    path still fails loudly downstream on the kind-checked manifest."""
    if vec_index_kind not in ("auto", "ivf", "ivfpq"):
        raise ValueError(
            "vec_index_kind must be 'auto', 'ivf' or 'ivfpq', "
            f"got {vec_index_kind!r}"
        )
    if vec_index_kind == "auto" and vec_index_path is not None:
        from feast_spark.operators.vector_index import vector_index_kind

        return vector_index_kind(vec_index_path, fs, as_of=as_of)
    return vec_index_kind


def _ivfpq_ranked(
    spark, path, qdf, emb_id_col, vec_col, n_probe, fetch_k, fs=None,
    as_of=None,
):
    """(query_id, neighbor_id, rank) from the persisted IVFPQ index —
    ranks derived from ascending ADC distance (ties by neighbor id),
    which is all RRF fusion consumes.  Self is excluded to match the
    IVF and brute channels (an over-fetch of one absorbs the dropped
    row, so a query reusing a corpus id still yields fetch_k
    candidates)."""
    from feast_spark.operators.pq_index import ivfpq_index_topk

    adc = ivfpq_index_topk(
        spark, path, qdf,
        id_col=emb_id_col, vec_col=vec_col, n_probe=n_probe,
        k=fetch_k + 1, fs=fs, as_of=as_of,
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return adc.select(
        "query_id", "neighbor_id", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= fetch_k)


def hybrid_index_topk_batch(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame | None,
    queries: DataFrame,
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    qvec_col: str = "qvec",
    k: int = 10,
    fetch_k: int = 50,
    rrf_k: int = 60,
    fs=None,
    vec_index_path: str | None = None,
    n_probe: int = 4,
    vec_index_kind: str = "auto",
    on_corpus_mismatch: str = "fail",
    as_of: tuple[int | str, int | str] | None = None,
) -> DataFrame:
    """:func:`hybrid_topk_batch` with the lexical channel served from
    a persisted BM25 index — same (query_id, id, lex_rank, vec_rank,
    rrf, rank) contract and fusion (shared ``_rrf_fuse_batch``), but
    the lexical cost is one partition-pruned postings read for the
    whole batch's term set instead of a corpus tokenize.

    With ``vec_index_path`` set, the vector channel is served from a
    persisted ANN index too: kind ``ivf`` reads the probed cells'
    float vectors (``similarity.ivf_index_topk``); ``ivfpq`` reads the
    probed cells' PQ CODES and ranks by ADC
    (``pq_index.ivfpq_index_topk``) — RRF consumes only ranks, so the
    lossy-but-ordered channel fuses identically.  The default
    ``vec_index_kind="auto"`` dispatches on the index manifest's kind
    stamp.  Either way the all-index serving stack touches
    ``O(batch x n_probe)`` cells and the term buckets the batch hashes
    into — never the corpus.  ``embeddings`` may be ``None`` in those
    modes; without ``vec_index_path`` the channel brute-scans
    ``embeddings`` (one-off batch shape).  Paired ``corpus_epoch``
    stamps are validated like :func:`hybrid_index_topk`
    (``on_corpus_mismatch``: fail/warn/ignore), and
    ``as_of=(bm25_seq, vec_seq)`` time-travels both channels to the
    named archived commits the same way (index-path modes only)."""
    from feast_spark.operators.paired_index import check_corpus_alignment
    from feast_spark.operators.similarity import cosine_topk, ivf_index_topk

    if fetch_k < k:
        raise ValueError(f"fetch_k ({fetch_k}) must be >= k ({k})")
    if vec_index_path is None and embeddings is None:
        raise ValueError("pass embeddings or vec_index_path")
    if as_of is not None and (embeddings is not None or vec_index_path is None):
        raise ValueError(
            "as_of requires both channels to be served from persisted "
            "indexes (vec_index_path, no embeddings): a brute-force "
            "scan has no commit history to travel to"
        )
    as_of_lex = as_of[0] if as_of else None
    as_of_vec = as_of[1] if as_of else None
    if vec_index_path is not None:
        check_corpus_alignment(
            index_path, vec_index_path, fs=fs,
            on_mismatch=on_corpus_mismatch, as_of=as_of,
        )
    vec_index_kind = _resolve_vec_kind(
        vec_index_kind, vec_index_path, fs, as_of=as_of_vec
    )
    # Materialize the request batch ONCE.  Both channels evaluate the
    # queries frame (the lexical term explode + distinct, the vector
    # probe collect), and a caller-supplied classic createDataFrame
    # frame is a pickled-RDD plan whose EVERY evaluation launches a
    # default-parallelism Python stage (~0.5 s each, guide §4).  Batch
    # queries are request-sized by contract (the vector channel
    # collects them for the probe either way), so one collect +
    # LocalRelation rebuild gives every downstream use a JVM-side
    # frame — and a single consistent snapshot of the batch.
    from feast_spark.io.localframe import ensure_local

    queries = ensure_local(queries.select(query_id_col, terms_col, qvec_col))
    lex = bm25_index_topk_batch(
        spark, index_path, queries, query_id_col=query_id_col,
        terms_col=terms_col, k=fetch_k, fs=fs, as_of=as_of_lex,
    )
    id_col = lex.columns[1]
    lex = lex.select(
        "query_id", F.col(id_col).alias("id"),
        F.col("rank").alias("lex_rank"),
    )
    qvecs = queries.select(
        F.col(query_id_col).alias(emb_id_col),
        F.col(qvec_col).alias(vec_col),
    )
    if vec_index_path is not None and vec_index_kind == "ivfpq":
        topk = _ivfpq_ranked(
            spark, vec_index_path, qvecs, emb_id_col, vec_col,
            n_probe, fetch_k, fs=fs, as_of=as_of_vec,
        )
    elif vec_index_path is not None:
        # driver_probe: batch queries are request-sized by contract
        # (the IVFPQ channel already collects them for ADC) — probing
        # in Python removes the probe job AND the distinct-cells
        # collect job from every batch call (probe_cells_py is
        # pytest-pinned bit-identical to the probe_cells_df path)
        topk = ivf_index_topk(
            spark, vec_index_path, qvecs,
            id_col=emb_id_col, vec_col=vec_col, n_probe=n_probe, k=fetch_k,
            fs=fs, driver_probe=True, as_of=as_of_vec,
        )
    else:
        topk = cosine_topk(
            embeddings, qvecs, id_col=emb_id_col, vec_col=vec_col, k=fetch_k
        )
    vec = topk.select(
        "query_id", F.col("neighbor_id").alias("id"),
        F.col("rank").alias("vec_rank"),
    )
    return _rrf_fuse_batch(lex, vec, rrf_k, k)


def bm25_index_stats(spark: SparkSession, path: str, fs=None) -> DataFrame:
    """Per-bucket posting counts plus the global skew ratio (max
    bucket / mean bucket), epoch count and corpus stats — the
    health/compact/rebuild signal for a persisted BM25 index, mirroring
    ``similarity.ivf_index_stats`` and
    ``minhash_index.minhash_index_stats``.  A skewed bucket means one
    bucket's postings dominate reads for queries hashing into it;
    rebuild with more ``n_term_buckets`` when the ratio drifts past
    your budget; ``bm25_index_compact`` when n_epochs grows.  One
    aggregate over the postings table."""
    fs = fs or LocalFS()
    manifest = _bm25_manifest(path, fs)
    epochs = manifest["epochs"]
    counts = (
        spark.read.option("basePath", posixpath.join(path, "postings"))
        .parquet(*epochs_io.epoch_paths(path, "postings", epochs))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.approx_count_distinct("term").alias("n_terms_approx"),
        )
    )
    stats = (
        spark.read.parquet(*epochs_io.epoch_paths(path, "stats", epochs))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
        .select(
            "n_docs",
            (F.col("total_len") / F.col("n_docs")).alias("avg_len"),
            F.lit(len(epochs)).alias("n_epochs"),
        )
    )
    return counts.crossJoin(
        F.broadcast(
            counts.agg(
                (F.max("n_postings") / F.avg("n_postings")).alias(
                    "skew_ratio"
                ),
                F.sum("n_postings").alias("total_postings"),
            )
        )
    ).crossJoin(F.broadcast(stats))
