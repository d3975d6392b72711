"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports
the per-query MEDIAN, so cross-round comparisons survive ambient
environment drift (r02's untouched queries drifted a uniform ~1.35x).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "runs": R, "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession


# BPE end-to-end over the documents table: train on the corpus
# (one shuffle + TakeOrdered), then encode every doc (narrow map).
# Module-level so tools/scale_curve.py can time the same code.
def q_bpe_tokenize(spark, sf_dir):
    from feast_spark.functions.bpe import bpe_token_count, train_bpe
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    model = train_bpe(docs, "text", num_merges=200, max_words=50_000)
    return bpe_token_count(docs, "text", model).select("doc_id", "n_bpe_tokens")


# PQ end-to-end over the embeddings table: train codebooks
# (bounded sample), encode the corpus (narrow map), ADC top-10 for
# 5 queries + exact re-rank of the candidates.
def q_pq_search(spark, sf_dir):
    from pyspark.sql import functions as F

    from feast_spark.operators.pq import pq_encode, pq_topk_reranked, pq_train
    from feast_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m_subspaces=8, k_codes=64, iters=4)
    codes = pq_encode(emb, books)
    queries_df = emb.where(F.col("vec_id") < 5)
    return pq_topk_reranked(emb, codes, queries_df, books, k=10)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("feast_spark-bench")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = dict(entry_mod.queries())
    # The throughput path of MinHash+LSH (xxhash64 signatures) is what
    # a production pipeline runs; the driver-gated minhash_lsh_dedup
    # is its value-checked portable twin (md5 signatures, ~2x the
    # hash cost).  r2-r4 benched the fast path UNDER the gated name;
    # per the r4 verdict each name now times exactly the code it
    # names: headline slot is minhash_lsh_fast (same code r2-r4
    # headlines timed, so headline_total stays comparable), and the
    # portable gated query is timed separately in extra_queries.
    queries["minhash_lsh_fast"] = entry_mod.q_minhash_fast
    # rotated out of the 50-slot gate in r12 (the inline BM25 math is
    # gated inside bm25_index_topk) but kept as a bench slot so the
    # series stays comparable across rounds
    queries["bm25_topk"] = entry_mod.q_bm25_topk
    # rotated out in r13 (A1 stays gated via latest_per_key_created)
    # but kept as a HEADLINE slot so headline_total stays comparable
    queries["latest_per_key"] = entry_mod.q_latest_per_key
    # r15: the gate's pit_join slot runs the two-leg dataset-lifecycle
    # variant (two to_dataset commits + two manifest reads); the
    # headline keeps timing the PLAIN join so the series stays
    # comparable (the commit overhead is measured separately in
    # tools/dataset_commit_bench.py: +38 ms on a 0.32 s write)
    queries["pit_join"] = entry_mod.q_pit_join
    # Headline subset: the core temporal operators + the heaviest
    # training-data ops. Everything else still runs under selfcheck.
    headline = [
        name
        for name in (
            "pit_join",
            "pit_join_multiview",
            "latest_per_key",
            "rollup_pit_join",
            "window_agg_hourly",
            "sessionize",
            "pricing_summary",
            "dedup_exact",
            "corpus_clean",
            "minhash_lsh_fast",
            "ann_topk_cosine",
            "text_quality",
        )
        if name in queries
    ]

    # Warm the JVM / codegen / file-listing paths once so the first
    # headline query isn't charged session startup.
    from feast_spark.sources.testdata import load_table

    load_table(spark, sf_dir, "events").count()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # Per-query dispersion alongside the median: BENCH_r13's headline
    # came out 43% above r12 purely from host noise, and the artifact
    # gave a reader no way to see that.  min is the best proxy for
    # "what the code costs on a quiet host"; spread = max/min flags a
    # noisy-neighbor run (the documented signature is spread >~1.5x).
    dispersion: dict[str, dict[str, float]] = {}
    # auto-rerun noisy queries (r15): when spread > 1.5 the window was
    # noisy — up to N extra samples give the per-query min a chance to
    # land at the quiet-host floor, so headline_total_min self-cleans
    # without rerunning the whole suite.  max is sticky, so spread
    # still FLAGS the query; only the min (and median) recover.
    max_reruns = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS", "2"))

    # SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts timing to those queries —
    # for iterating on one operator without the full 31-query sweep.
    # The printed headline is NOT comparable across rounds when set.
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }

    def _time(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        if only:
            names = [n for n in names if n in only]
        for name in names:
            fn = queries[name]
            samples = []
            while True:
                # cold plan per run, like the driver (new DataFrame each
                # run) — AND cold data: operators persist candidate-sized
                # intermediates for intra-query reuse, and Spark's
                # CacheManager silently matches the NEXT run's identical
                # subplan to the previous run's cached blocks (measured
                # r16: run 2+ of minhash_lsh_fast carried 11
                # InMemoryTableScans and timed the cache, not the code).
                # Clearing the relation cache between samples keeps every
                # sample an honest recompute from the parquet inputs.
                # SPARK_GRAFT_BENCH_KEEP_CACHE=1 restores the pre-r16
                # behavior for apples-to-apples comparison against the
                # r1-r15 series (whose samples 2+ could hit the cache).
                if not os.environ.get("SPARK_GRAFT_BENCH_KEEP_CACHE"):
                    spark.catalog.clearCache()
                t0 = time.monotonic()
                df = fn(spark, sf_dir)
                df.count()
                samples.append(time.monotonic() - t0)
                if len(samples) < runs:
                    continue
                noisy = max(samples) / min(samples) > 1.5
                if not noisy or len(samples) >= runs + max_reruns:
                    break
            out[name] = round(statistics.median(samples), 3)
            lo, hi = min(samples), max(samples)
            dispersion[name] = {
                "min": round(lo, 3),
                "spread": round(hi / lo, 2) if lo > 0 else 0.0,
                "runs": len(samples),
            }
        return out

    queries["bpe_tokenize"] = q_bpe_tokenize
    queries["pq_search"] = q_pq_search

    # Bucketed PIT retrieval (the materialized-layout scale path):
    # both sides written bucketed+sorted on the __bucket column ONCE
    # (setup, untimed — that is the point: pay the shuffle+sort at
    # materialization), then each timed run is the zero-Exchange /
    # zero-Sort bucket-granularity sorted_merge over the scans.
    from datetime import timedelta

    from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
    from feast_spark.operators.skew import with_bucket_id, write_bucketed

    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    # a previous run's managed-table dirs survive the session (no
    # persistent metastore), so DROP alone can't clear them
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("bench_pit_ent", "bench_pit_feat"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    nb = int(cpus)
    write_bucketed(
        with_bucket_id(
            ev.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "ts"
            ),
            ["user_id"], nb,
        ),
        "bench_pit_ent", ["__bucket"], nb,
        sort_cols=["__bucket", "user_id", "ts"],
    )
    write_bucketed(
        with_bucket_id(
            ev.filter(F.col("event_type") == "view").select(
                "user_id", "ts", "value"
            ),
            ["user_id"], nb,
        ),
        "bench_pit_feat", ["__bucket"], nb,
        sort_cols=["__bucket", "user_id", "ts"],
    )

    def q_pit_sorted_merge_bucketed(spark, sf_dir):
        return as_of_join(
            spark.table("bench_pit_ent"),
            "ts",
            [
                AsOfJoinSpec(
                    feature_df=spark.table("bench_pit_feat"),
                    join_keys=["user_id"],
                    timestamp_col="ts",
                    features=["value"],
                    ttl=timedelta(days=2),
                )
            ],
            strategy="sorted_merge",
        )

    queries["pit_sorted_merge_bucketed"] = q_pit_sorted_merge_bucketed
    # one untimed execution: the cogroup kernel is the only extras
    # entry whose first run pays Arrow/Python worker pool spin-up
    # (~1.5-2.5s of environment noise, not plan cost); the timed
    # samples then measure the steady-state the SCALE claims discuss
    q_pit_sorted_merge_bucketed(spark, sf_dir).count()

    # Round-7 corpus operators (extra slots: additive, headline
    # untouched for cross-round comparability)
    def q_substr_dedup_stats(spark, sf_dir):
        from feast_spark.operators.substr_dedup import (
            duplicate_substring_stats,
        )

        docs = load_table(spark, sf_dir, "documents")
        return duplicate_substring_stats(docs, "doc_id", "text")

    # quantizer trained ONCE (setup, untimed): the operator's
    # documented reuse pattern — stable cluster ids across corpus
    # snapshots — so the slot times the recurring assign+pair+resolve
    from feast_spark.operators.similarity import ivf_train_centroids

    _sem_cents = ivf_train_centroids(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_centroids=16, iters=2,
    )

    def q_semantic_dedup(spark, sf_dir):
        from feast_spark.operators.semdedup import semantic_dedup

        emb = load_table(spark, sf_dir, "embeddings")
        return semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.99, centroids=_sem_cents
        )

    queries["substr_dedup_stats"] = q_substr_dedup_stats
    queries["semantic_dedup"] = q_semantic_dedup

    # Round-8 extras: chunking (gated query; narrow, zero-shuffle) and
    # the HLL sketch rollup build+estimate over the events table
    def q_sketch_rollup(spark, sf_dir):
        from pyspark.sql import functions as F

        from feast_spark.operators.sketches import (
            build_distinct_sketches, estimate_distinct,
        )

        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.to_date("ts")
        )
        sk = build_distinct_sketches(ev, "user_id", ["day", "event_type"])
        return estimate_distinct(sk, group_cols=["event_type"])

    queries["sketch_rollup"] = q_sketch_rollup

    # Round-9 extras: persisted-index BM25 (index built ONCE, untimed —
    # the operator's whole point is paying the corpus tokenize once)
    # and the online multiget read path (10k-key request against the
    # materialized parquet snapshot; store built once, untimed).
    import tempfile

    from feast_spark.operators.bm25 import bm25_index_topk, build_bm25_index

    _bm25_idx = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
    build_bm25_index(
        load_table(spark, sf_dir, "documents"), _bm25_idx,
        "doc_id", "text", n_term_buckets=64,
    )

    def q_bm25_index_topk(spark, sf_dir):
        return bm25_index_topk(
            spark, _bm25_idx, ["hash", "scan", "filter"], k=15
        )

    queries["bm25_index_topk"] = q_bm25_index_topk

    # Round-10 extra: the all-index hybrid serving shape — BOTH
    # channels from persisted indexes (BM25 postings bucket-pruned,
    # IVF vectors cell-pruned).  Indexes built once, untimed; each
    # timed run is the per-query serving cost, which is what the
    # brute hybrid_topk corpus scan is NOT at 100 TB.
    # NB (r11): "hybrid_index_topk"/"ivfpq_index_topk" are ALSO gated
    # queries now; the local defs below deliberately SHADOW them here
    # so the bench slot keeps timing the serving query against a
    # prebuilt index (cross-round comparable), not the gate's
    # build+append+query lifecycle.  The r11 control-plane cache
    # (io/model_cache.py) is live across the timed runs — that IS the
    # serving semantics the slot measures.
    from feast_spark.operators.similarity import build_ivf_index

    _ivf_idx = tempfile.mkdtemp(prefix="bench_ivf_") + "/idx"
    _emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(_emb, _ivf_idx, n_centroids=64, iters=2)
    _hybrid_dim = len(_emb.select("embedding").first()[0])
    _hybrid_qvec = [
        float((i * 37) % 19) / 19.0 for i in range(_hybrid_dim)
    ]

    def q_hybrid_index_topk(spark, sf_dir):
        from feast_spark.operators.bm25 import hybrid_index_topk

        return hybrid_index_topk(
            spark, _bm25_idx, None, ["hash", "scan", "filter"],
            _hybrid_qvec, k=10, vec_index_path=_ivf_idx, n_probe=8,
        )

    queries["hybrid_index_topk"] = q_hybrid_index_topk

    # Round-11 extra: the BATCH all-index hybrid — 32 queries in ONE
    # call, so the per-query floor (stage scheduling + control plane)
    # is paid once per batch.  Compare per-query cost against the
    # single-query hybrid_index_topk slot above.
    from feast_spark.io.localframe import local_df as _ldf

    _hybrid_batch_df = _ldf(
        spark,
        [
            (
                i,
                ["hash", "scan", "filter"],
                [float((j * 37 + i) % 19) / 19.0 for j in range(_hybrid_dim)],
            )
            for i in range(32)
        ],
        "query_id LONG, terms ARRAY<STRING>, qvec ARRAY<DOUBLE>",
    )

    def q_hybrid_index_batch(spark, sf_dir):
        from feast_spark.operators.bm25 import hybrid_index_topk_batch

        return hybrid_index_topk_batch(
            spark, _bm25_idx, None, _hybrid_batch_df, k=10,
            vec_index_path=_ivf_idx, n_probe=8,
        )

    queries["hybrid_index_batch"] = q_hybrid_index_batch

    # Round-10 extra: persisted IVFPQ serving shape — probed-cell CODE
    # reads + ADC, no float vector ever loaded (index built once,
    # untimed; compare against pq_search, the inline encode-per-run
    # twin).
    from feast_spark.operators.pq_index import (
        build_ivfpq_index, ivfpq_index_topk,
    )

    _ivfpq_idx = tempfile.mkdtemp(prefix="bench_ivfpq_") + "/idx"
    build_ivfpq_index(_emb, _ivfpq_idx, n_centroids=64, iters=2)
    _ivfpq_queries = _emb.filter("vec_id < 8")

    def q_ivfpq_index_topk(spark, sf_dir):
        return ivfpq_index_topk(
            spark, _ivfpq_idx, _ivfpq_queries, k=10, n_probe=8
        )

    queries["ivfpq_index_topk"] = q_ivfpq_index_topk

    from tools.online_bench import _build_store

    _online_tmp = tempfile.mkdtemp(prefix="bench_online_")
    _online_store = _build_store(spark, sf_dir, _online_tmp, "parquet")
    from feast_spark.io.localframe import local_df
    from feast_spark.online.store import encode_request_keys

    _online_keys = encode_request_keys(
        [{"user_id": i} for i in range(10_000)], ["user_id"]
    )

    def q_online_multiget(spark, sf_dir):
        # the read is driver-side; the slot's frame only carries the
        # per-key found flags for the harness's count()
        hits = _online_store.online_store.online_read(
            _online_store.config.project, "user_latest",
            _online_keys, ["value"],
        )
        return local_df(spark, [(h is not None,) for h in hits], "found BOOLEAN")

    queries["online_multiget"] = q_online_multiget

    # ------------------------------------------------------------------
    # r17 scaling witnesses.  At sf0.1 every slot is sub-second and
    # scheduling-bound, so the driver's 8-vs-32-core ratios all read
    # <=1 (PERF_r16.scaling) and the bench demonstrated nothing about
    # parallel scaling.  These slots expand the documents scan 10x
    # IN-PLAN — one parquet scan crossJoined with a broadcast 10-row
    # literal range, per-copy doc_id re-key, per-copy text
    # perturbation — so the timed computation is CPU-bound enough for
    # the core-count ratio to mean something.  The expansion is part
    # of the timed plan and recomputes from the parquet inputs every
    # sample (nothing persisted, nothing memoized across runs).
    # Additive slots only: headline and the r16 extras are unchanged.
    _N_COPIES = 10

    def _docs_10x(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        copies = spark.range(_N_COPIES).select(F.col("id").alias("__copy"))
        # translate() remaps common letters per copy so copies are NOT
        # near-duplicates of each other: the dedup-family slots keep
        # their within-copy duplicate structure (x10) instead of
        # drowning in 45-pair cross-copy candidate groups.
        # 10 chars >= _N_COPIES so every cyclic shift is a DISTINCT
        # remap (a 7-char alphabet made copies 7-9 identity maps —
        # byte-identical to copy 0, exactly the cross-copy duplicate
        # explosion the perturbation exists to prevent)
        alphabet = "etaoinshrd"
        rots = [alphabet[k:] + alphabet[:k] for k in range(_N_COPIES)]
        rot = F.element_at(
            F.array(*[F.lit(r) for r in rots]),
            (F.col("__copy") % len(rots) + 1).cast("int"),
        )
        return (
            docs.crossJoin(F.broadcast(copies))
            .withColumn("__rot", rot)
            .select(
                (F.col("doc_id") * _N_COPIES + F.col("__copy")).alias(
                    "doc_id"
                ),
                # SQL translate (the F.translate binding requires
                # literal match/replace args; the SQL form takes a
                # per-row replace column)
                F.expr(f"translate(text, '{alphabet}', __rot)").alias(
                    "text"
                ),
            )
        )

    def q_text_quality_10x(spark, sf_dir):
        from feast_spark.functions.text import with_quality_features

        return with_quality_features(_docs_10x(spark, sf_dir), "text").select(
            "doc_id", "quality_score", "n_tokens"
        )

    def q_minhash_lsh_fast_10x(spark, sf_dir):
        from feast_spark.operators.docdedup import minhash_dedup_pairs

        return minhash_dedup_pairs(
            _docs_10x(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
        )

    queries["text_quality_10x"] = q_text_quality_10x
    queries["minhash_lsh_fast_10x"] = q_minhash_lsh_fast_10x

    # r17: drive the Arrow nearest-centroid assignment path under the
    # driver's own bench.  The dispatch threshold is scan-bytes-based
    # and sf0.1 never crosses it, so the r16 Arrow twin had only
    # offline curve evidence; this slot runs the SAME semantic_dedup
    # computation with the threshold floored to 0 for the duration of
    # the call (env read at call time; results are bit-identical by
    # the r16 pins, only the plan changes — expression tree vs ONE
    # ArrowEvalPython).  Compare against the semantic_dedup slot for
    # the expr-vs-arrow delta at this SF.
    def q_semantic_dedup_arrow(spark, sf_dir):
        from feast_spark.operators.semdedup import semantic_dedup

        emb = load_table(spark, sf_dir, "embeddings")
        old = os.environ.get("SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES")
        os.environ["SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES"] = "0"
        try:
            return semantic_dedup(
                emb, "vec_id", "embedding", threshold=0.99,
                centroids=_sem_cents,
            )
        finally:
            if old is None:
                del os.environ["SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES"]
            else:
                os.environ["SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES"] = old

    queries["semantic_dedup_arrow"] = q_semantic_dedup_arrow

    timings = _time(headline)
    # Newer corpus-assembly ops, timed OUTSIDE the headline so the
    # headline_total stays comparable across rounds.
    extra = _time(
        [
            n
            for n in (
                "minhash_lsh_dedup",  # portable md5 twin, the gated query
                "dup_groups_resolved",
                "pack_sequences",
                "corpus_mix",
                "weighted_sample",
                "bpe_tokenize",
                "pq_search",
                "pit_sorted_merge_bucketed",
                "substr_dedup_stats",
                "semantic_dedup",
                "dsir_resample",  # gated r13: two linear passes + Gumbel top-k
                "doc_chunks",
                "sketch_rollup",
                "bm25_topk",
                "bm25_index_topk",
                "hybrid_index_topk",
                "hybrid_index_batch",
                "ivfpq_index_topk",
                "online_multiget",
                # r17 additive slots: scaling witnesses + the Arrow
                # assignment path (see comments at their definitions)
                "text_quality_10x",
                "minhash_lsh_fast_10x",
                "semantic_dedup_arrow",
            )
            if n in queries
        ]
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    # min-of-runs total: the quiet-host floor a reader should compare
    # across rounds when the spread flags ambient noise
    total_min = round(
        sum(dispersion[n]["min"] for n in timings), 3
    )
    noisy = sorted(
        n for n, d in dispersion.items() if d["spread"] > 1.5
    )
    if noisy:
        print(
            "WARNING: run-to-run spread >1.5x on "
            f"{len(noisy)} queries ({', '.join(noisy[:8])}"
            f"{', ...' if len(noisy) > 8 else ''}) — "
            "noisy-neighbor signature; prefer headline_total_min and "
            "rerun solo before reading this as a regression.",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extra_queries": extra,
                "headline_total_min": total_min,
                "dispersion": dispersion,
                "noisy_queries": noisy,
                "runs": runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    # Compact trailer AFTER the full JSON: the round driver records a
    # bounded tail of stdout, and the dispersion dict above can grow
    # (auto-rerun adds per-query run counts) until it pushes the
    # headline out of the captured window — BENCH_r15 lost its
    # headline exactly that way.  This line repeats every
    # verdict-relevant number (and the full driver-contract keys,
    # minus dispersion) so the tail is always self-sufficient.
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "headline_total_min": total_min,
                "n_noisy": len(noisy),
                "runs": runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
