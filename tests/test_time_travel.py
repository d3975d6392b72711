"""Index time travel (io/epochs.py manifest history): every
commit_manifest archives its result under _history/commit_seq=N.json,
read verbs accept as_of=commit_seq, and vacuum's retain_last keeps the
N most recent archived commits readable — the Delta/Iceberg VERSION AS
OF + expire-snapshots discipline, where the time-travel window and the
in-flight-reader grace window are the same mechanism (a reader that
resolved manifest N scans exactly the directories manifest N lists,
all write-once)."""

import json

import pytest
from pyspark.sql import functions as F

from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS


def _rows(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# protocol-level: archive, as_of resolution, retention
# ---------------------------------------------------------------------------


def test_every_commit_is_archived_and_as_of_resolves(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})
    head = epochs_io.read_manifest(root, fs)
    epochs_io.commit_manifest(root, fs, {**head, "epochs": [0, 1]})
    assert epochs_io.history_seqs(root, fs) == [1, 2]
    assert epochs_io.read_manifest(root, fs, as_of_seq=1)["epochs"] == [0]
    assert epochs_io.read_manifest(root, fs, as_of_seq=2)["epochs"] == [0, 1]
    # archived == committed at that seq, byte-equal fields
    assert epochs_io.read_manifest(root, fs, as_of_seq=2) == \
        epochs_io.read_manifest(root, fs)


def test_as_of_unknown_seq_names_the_window(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})
    with pytest.raises(ValueError, match="archived commits: 1..1"):
        epochs_io.read_manifest(root, fs, as_of_seq=9)


def test_as_of_on_prehistory_index_is_friendly(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    # a head written before the history protocol: no _history dir
    fs.write_bytes_atomic(
        f"{root}/_MANIFEST.json",
        json.dumps({"kind": "bm25", "epochs": [0]}).encode(),
    )
    with pytest.raises(ValueError, match="no archived commits"):
        epochs_io.read_manifest(root, fs, as_of_seq=1)


def test_as_of_validates_kind_and_keys(tmp_path):
    """Time travel across a kind-rebuild must fail the same loud way a
    head read would — the archived manifest is a foreign layout."""
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "minhash", "epochs": [0]})
    with pytest.raises(ValueError, match="minhash"):
        epochs_io.read_manifest(
            root, fs, kind="BM25 index", kind_id="bm25", as_of_seq=1
        )


def test_crash_between_archive_and_head_flip_self_heals(tmp_path):
    """The archive write lands BEFORE the head flip.  A crash between
    them leaves an orphan history entry for a seq head never reached;
    the next commit computes the same seq from head and atomically
    overwrites the orphan — history never diverges from what head
    actually served."""
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})

    real_write = fs.write_bytes_atomic
    calls = []

    def crashing(path, data):
        calls.append(path)
        if path.endswith("_MANIFEST.json") and len(calls) > 1:
            raise OSError("simulated crash before head flip")
        real_write(path, data)

    fs.write_bytes_atomic = crashing
    head = epochs_io.read_manifest(root, fs)
    with pytest.raises(OSError, match="simulated"):
        epochs_io.commit_manifest(root, fs, {**head, "epochs": [0, 9]})
    fs.write_bytes_atomic = real_write

    # orphan archived at seq 2, head still at seq 1
    assert epochs_io.history_seqs(root, fs) == [1, 2]
    assert epochs_io.read_manifest(root, fs)["commit_seq"] == 1
    # the orphan was never served: as-of resolution ignores it
    with pytest.raises(ValueError, match="archived commits: 1..1"):
        epochs_io.read_manifest(root, fs, as_of_seq=2)
    # the next real commit claims seq 2 and overwrites the orphan
    head = epochs_io.read_manifest(root, fs)
    epochs_io.commit_manifest(root, fs, {**head, "epochs": [0, 1]})
    assert epochs_io.read_manifest(root, fs, as_of_seq=2)["epochs"] == [0, 1]


def test_retention_window_protects_and_expires(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})
    for new in ([0, 1], [0, 1, 2], [3]):  # appends then a compact
        head = epochs_io.read_manifest(root, fs)
        epochs_io.commit_manifest(root, fs, {**head, "epochs": new})
    head = epochs_io.read_manifest(root, fs)
    protected, keep, retained = epochs_io.retention_window(
        root, fs, retain_last=2, head_seq=head["commit_seq"]
    )
    # last 2 archived commits: seq 3 (epochs 0,1,2) and seq 4 (epoch 3)
    assert keep == {3, 4}
    assert protected == {0, 1, 2, 3}
    assert [m["epochs"] for m in retained] == [[0, 1, 2], [3]]
    expired = epochs_io.expire_history(root, fs, keep)
    assert expired == [1, 2]
    assert epochs_io.history_seqs(root, fs) == [3, 4]


def test_vacuum_expires_the_archive_before_deleting_epochs(tmp_path):
    """A delete that fails partway through a vacuum leaves no archived
    seq outside the keep set: the archive expires FIRST, so every seq
    still listed has all of its epoch directories."""
    fs = LocalFS()
    root = str(tmp_path / "idx")
    for epochs in ([0], [0, 1], [2]):  # build, append, compact
        for e in epochs:
            fs.mkdirs(f"{root}/data/epoch={e}")
        head = (
            epochs_io.read_manifest(root, fs) if epochs != [0]
            else {"kind": "bm25"}
        )
        epochs_io.commit_manifest(root, fs, {**head, "epochs": epochs})

    real_delete = fs.delete
    deletes = []

    def failing(path):
        if "epoch=" in path:
            deletes.append(path)
            if len(deletes) == 2:
                raise OSError("simulated delete failure")
        real_delete(path)

    fs.delete = failing
    with pytest.raises(OSError, match="simulated"):
        epochs_io.vacuum(
            root, fs, 1, lambda: epochs_io.read_manifest(root, fs),
            lambda head, protected, _: epochs_io.vacuum_epochs(
                root, fs, head["epochs"], ("data",), protect_epochs=protected
            ),
        )
    fs.delete = real_delete
    assert len(deletes) == 2  # one epoch deleted, the next one failed
    assert epochs_io.history_seqs(root, fs) == [3]
    for s in epochs_io.history_seqs(root, fs):
        for e in epochs_io.read_manifest(root, fs, as_of_seq=s)["epochs"]:
            assert fs.exists(f"{root}/data/epoch={e}")


def test_retention_window_rejects_negative(tmp_path):
    with pytest.raises(ValueError, match="retain_last"):
        epochs_io.retention_window(str(tmp_path), LocalFS(), -1)


# ---------------------------------------------------------------------------
# BM25: as_of reads, vacuum retention
# ---------------------------------------------------------------------------


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (i, f"hash scan filter doc{i} " + ("alpha " * (i % 4)))
            for i in range(24)
        ],
        "doc_id LONG, text STRING",
    )


def test_bm25_as_of_serves_what_head_served_then(spark, docs, tmp_path):
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_topk,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25")
    build_bm25_index(
        docs.filter(F.col("doc_id") < 16), path, "doc_id", "text",
        n_term_buckets=4,
    )
    at_build = _rows(bm25_index_topk(spark, path, ["alpha"], k=8))
    bm25_index_append(spark, path, docs.filter(F.col("doc_id") >= 16))
    at_append = _rows(bm25_index_topk(spark, path, ["alpha"], k=8))
    bm25_index_compact(spark, path)

    # bit-identical to what head served at each commit (scores included:
    # historical epochs feed the same exact-long stats sum)
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8, as_of=1)) \
        == at_build
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8, as_of=2)) \
        == at_append
    # compact changed bytes layout, not scores
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8, as_of=3)) \
        == at_append
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8)) == at_append


@pytest.mark.nightly
def test_bm25_batch_as_of(spark, docs, tmp_path):
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_topk_batch,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25")
    build_bm25_index(
        docs.filter(F.col("doc_id") < 16), path, "doc_id", "text",
        n_term_buckets=4,
    )
    queries = spark.createDataFrame(
        [(1, ["alpha", "scan"]), (2, ["filter"])],
        "query_id LONG, terms ARRAY<STRING>",
    )
    before = _rows(
        bm25_index_topk_batch(spark, path, queries, k=5)
        .orderBy("query_id", "rank")
    )
    bm25_index_append(spark, path, docs.filter(F.col("doc_id") >= 16))
    assert _rows(
        bm25_index_topk_batch(spark, path, queries, k=5, as_of=1)
        .orderBy("query_id", "rank")
    ) == before


@pytest.mark.nightly
def test_bm25_vacuum_retention_bounds_the_window(spark, docs, tmp_path):
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_topk,
        bm25_index_vacuum,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25")
    build_bm25_index(
        docs.filter(F.col("doc_id") < 16), path, "doc_id", "text",
        n_term_buckets=4,
    )
    bm25_index_append(spark, path, docs.filter(F.col("doc_id") >= 16))
    at_append = _rows(bm25_index_topk(spark, path, ["alpha"], k=8))
    bm25_index_compact(spark, path)

    # retain_last=2 keeps seqs {2, 3}: the pre-compact epochs survive
    out = bm25_index_vacuum(path, retain_last=2)
    assert out["postings"] == [] and out["stats"] == []
    assert out["history_expired"] == ["1"]
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8, as_of=2)) \
        == at_append

    # default vacuum: only head stays readable, old epochs reclaimed
    out = bm25_index_vacuum(path)
    assert out["postings"] == ["epoch=0", "epoch=1"]
    assert out["history_expired"] == ["2"]
    with pytest.raises(ValueError, match="archived commits: 3..3"):
        bm25_index_topk(spark, path, ["alpha"], k=8, as_of=2).collect()
    assert _rows(bm25_index_topk(spark, path, ["alpha"], k=8, as_of=3)) \
        == at_append


# ---------------------------------------------------------------------------
# vector indexes: as_of across appends AND rebuilds
# ---------------------------------------------------------------------------


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11), 1.0]) for i in ids],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


@pytest.mark.nightly
def test_ivf_as_of_pairs_historical_quantizer_with_its_epochs(
    spark, tmp_path
):
    """A rebuild retrains the quantizer; as_of to a pre-rebuild commit
    must serve the OLD (centroids, cells) pairing — even after a
    retention vacuum ran."""
    from feast_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_topk,
        ivf_index_vacuum,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(_vecs(spark, range(20)), path, n_centroids=2, iters=1)
    ivf_index_append(spark, path, _vecs(spark, range(20, 30)))
    q = _vecs(spark, [1000])
    at_append = _rows(
        ivf_index_topk(spark, path, q, n_probe=2, k=5).orderBy("rank")
    )
    # rebuild over a DIFFERENT corpus: new generation, new epoch
    build_ivf_index(_vecs(spark, range(50, 70)), path, n_centroids=2,
                    iters=1)
    at_rebuild = _rows(
        ivf_index_topk(spark, path, q, n_probe=2, k=5).orderBy("rank")
    )
    assert at_rebuild != at_append

    out = ivf_index_vacuum(path, retain_last=2)
    # seq 2 (append) retained: its gen + epochs survive the rebuild
    assert out["centroid_gens_removed"] == []
    assert _rows(
        ivf_index_topk(spark, path, q, n_probe=2, k=5, as_of=2)
        .orderBy("rank")
    ) == at_append

    # default vacuum reclaims the superseded generation and epochs
    out = ivf_index_vacuum(path)
    assert out["centroid_gens_removed"] == ["gen=0"]
    assert set(out["epochs_removed"]) == {"epoch=0", "epoch=1"}
    with pytest.raises(ValueError, match="archived commits"):
        ivf_index_topk(spark, path, q, n_probe=2, k=5, as_of=2).collect()
    assert _rows(
        ivf_index_topk(spark, path, q, n_probe=2, k=5, as_of=3)
        .orderBy("rank")
    ) == at_rebuild


@pytest.mark.nightly
def test_vector_facade_as_of_dispatches_the_kind_that_served_then(
    spark, tmp_path
):
    """Rebuilding an IVF path as IVFPQ: head dispatches ivfpq, as_of to
    the ivf commit dispatches (and serves) ivf."""
    from feast_spark.operators.pq_index import build_ivfpq_index
    from feast_spark.operators.similarity import build_ivf_index
    from feast_spark.operators.vector_index import (
        vector_index_kind,
        vector_index_topk,
    )
    from feast_spark.sources.testdata import load_table

    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "vec")
    build_ivf_index(emb, path, n_centroids=4, iters=1)
    q = emb.limit(1)
    ivf_rows = _rows(
        vector_index_topk(spark, path, q, n_probe=4, k=3).orderBy("rank")
    )
    build_ivfpq_index(emb, path, n_centroids=4, iters=1)
    assert vector_index_kind(path) == "ivfpq"
    assert vector_index_kind(path, as_of=1) == "ivf"
    assert _rows(
        vector_index_topk(spark, path, q, n_probe=4, k=3, as_of=1)
        .orderBy("rank")
    ) == ivf_rows
    # head serves the ivfpq contract (adc_dist column)
    assert "adc_dist" in vector_index_topk(spark, path, q, k=3).columns


@pytest.mark.nightly
def test_ivfpq_vacuum_retention_protects_models_and_foreign_history(
    spark, tmp_path
):
    from feast_spark.operators.pq_index import (
        build_ivfpq_index,
        ivfpq_index_topk,
        ivfpq_index_vacuum,
    )
    from feast_spark.operators.similarity import build_ivf_index
    from feast_spark.sources.testdata import load_table

    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "pq")
    # seq 1 is a FOREIGN kind (ivf) — retained history across the
    # kind-rebuild must not break the ivfpq vacuum
    build_ivf_index(emb, path, n_centroids=4, iters=1)
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path,
                      n_centroids=4, iters=1)
    q = emb.limit(1)
    at_first = _rows(
        ivfpq_index_topk(spark, path, q, n_probe=4, k=3)
        .orderBy("adc_dist", "neighbor_id")
    )
    build_ivfpq_index(emb, path, n_centroids=4, iters=1)
    out = ivfpq_index_vacuum(spark, path, retain_last=3)
    # seq 2's centroid gen + codebook survive; as_of still serves it
    assert _rows(
        ivfpq_index_topk(spark, path, q, n_probe=4, k=3, as_of=2)
        .orderBy("adc_dist", "neighbor_id")
    ) == at_first
    assert out["history_expired"] == []


@pytest.mark.nightly
def test_minhash_dedup_as_of(spark, tmp_path):
    from feast_spark.operators.minhash_index import (
        build_minhash_index,
        dedup_against_index,
        minhash_index_append,
    )

    base = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(4)],
        "doc_id LONG, text STRING",
    )
    build_minhash_index(base, str(tmp_path / "mh"), "doc_id", "text")
    extra = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id LONG, text STRING",
    )
    minhash_index_append(spark, str(tmp_path / "mh"), extra)
    probe = spark.createDataFrame(
        [(99, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id LONG, text STRING",
    )
    at_head = _rows(
        dedup_against_index(spark, str(tmp_path / "mh"), probe)
        .orderBy("id_a", "id_b")
    )
    at_build = _rows(
        dedup_against_index(spark, str(tmp_path / "mh"), probe, as_of=1)
        .orderBy("id_a", "id_b")
    )
    # doc 10 only exists at head
    assert len(at_head) == len(at_build) + 1
    assert all(a != 10 and b != 10 for a, b, _ in at_build)


# ---------------------------------------------------------------------------
# hybrid pair: two-seq time travel + historical alignment
# ---------------------------------------------------------------------------


def _pair(spark, tmp_path, ids):
    from feast_spark.operators.bm25 import build_bm25_index
    from feast_spark.operators.similarity import build_ivf_index

    docs = spark.createDataFrame(
        [(i, f"hash scan doc{i} " + ("alpha " * (i % 3))) for i in ids],
        "doc_id LONG, text STRING",
    )
    embs = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11), 1.0]) for i in ids],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    bp, vp = str(tmp_path / "bm25"), str(tmp_path / "ivf")
    build_bm25_index(docs, bp, "doc_id", "text", n_term_buckets=4)
    build_ivf_index(embs, vp, n_centroids=2, iters=1)
    return bp, vp


@pytest.mark.nightly
def test_hybrid_as_of_replays_the_pair(spark, tmp_path):
    from feast_spark.operators.bm25 import hybrid_index_topk
    from feast_spark.operators.paired_index import hybrid_index_append

    bp, vp = _pair(spark, tmp_path, range(12))
    slice2 = spark.createDataFrame(
        [(i, f"hash scan doc{i} alpha alpha",
          [float(i % 5), float((i * 7) % 11), 1.0]) for i in range(20, 26)],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(
        spark, bp, vp, slice2, id_col="doc_id", vec_col="embedding"
    )
    # the paired append stamps then appends: bm25 seq 1(build),2(stamp),
    # 3(epoch); vec likewise — capture the head seqs after the append
    fs = LocalFS()
    b_seq = epochs_io.read_manifest(bp, fs)["commit_seq"]
    v_seq = epochs_io.read_manifest(vp, fs)["commit_seq"]
    at_head = _rows(
        hybrid_index_topk(
            spark, bp, None, ["alpha", "scan"], [1.0, 2.0, 1.0],
            k=6, vec_index_path=vp,
        ).orderBy("id")
    )
    slice3 = spark.createDataFrame(
        [(i, "totally different words",
          [9.0, 9.0, 9.0]) for i in range(40, 44)],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(
        spark, bp, vp, slice3, id_col="doc_id", vec_col="embedding"
    )
    assert _rows(
        hybrid_index_topk(
            spark, bp, None, ["alpha", "scan"], [1.0, 2.0, 1.0],
            k=6, vec_index_path=vp, as_of=(b_seq, v_seq),
        ).orderBy("id")
    ) == at_head


@pytest.mark.nightly
def test_hybrid_as_of_checks_historical_alignment(spark, tmp_path):
    """as_of naming one side BEFORE a paired append and the other AFTER
    it is exactly the mismatched-corpora fusion the head check blocks —
    the historical stamps differ, so it fails the same way."""
    from feast_spark.operators.bm25 import hybrid_index_topk
    from feast_spark.operators.paired_index import hybrid_index_append

    bp, vp = _pair(spark, tmp_path, range(12))
    s = spark.createDataFrame(
        [(20, "hash alpha", [1.0, 1.0, 1.0])],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(spark, bp, vp, s, id_col="doc_id",
                        vec_col="embedding")
    s2 = spark.createDataFrame(
        [(21, "hash alpha", [1.0, 1.0, 2.0])],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(spark, bp, vp, s2, id_col="doc_id",
                        vec_col="embedding")
    fs = LocalFS()
    b_seq = epochs_io.read_manifest(bp, fs)["commit_seq"]
    v_prev = epochs_io.read_manifest(vp, fs)["commit_seq"] - 1
    with pytest.raises(ValueError, match="corpus-misaligned"):
        hybrid_index_topk(
            spark, bp, None, ["alpha"], [1.0, 1.0, 1.0], k=3,
            vec_index_path=vp, as_of=(b_seq, v_prev),
        )


def test_hybrid_as_of_requires_index_modes(spark, tmp_path):
    from feast_spark.operators.bm25 import hybrid_index_topk

    bp, vp = _pair(spark, tmp_path, range(8))
    embs = _vecs(spark, range(8))
    with pytest.raises(ValueError, match="as_of requires"):
        hybrid_index_topk(
            spark, bp, embs, ["alpha"], [1.0, 1.0, 1.0], k=3,
            as_of=(1, 1),
        )


# ---------------------------------------------------------------------------
# doctor --history
# ---------------------------------------------------------------------------


@pytest.mark.nightly
def test_doctor_history_lists_commits(spark, docs, tmp_path, capsys):
    from feast_spark.cli import main
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_vacuum,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25")
    build_bm25_index(
        docs.filter(F.col("doc_id") < 16), path, "doc_id", "text",
        n_term_buckets=4,
    )
    bm25_index_append(spark, path, docs.filter(F.col("doc_id") >= 16))
    bm25_index_compact(spark, path)
    bm25_index_vacuum(path, retain_last=2)

    assert main(["doctor", "--history", path]) == 0
    out = capsys.readouterr().out
    assert " seq=2" in out and "*seq=3" in out and "seq=1" not in out
    # seq 2's epochs survived the retention vacuum -> readable
    assert out.count(" readable ") == 2

    # expire the window: seq 2 still listed? no — vacuum removed it
    bm25_index_vacuum(path)
    assert main(["doctor", "--history", path]) == 0
    out = capsys.readouterr().out
    assert "*seq=3" in out and " seq=2" not in out

    assert main(["doctor", "--history", str(tmp_path / "nope")]) == 2


@pytest.mark.nightly
def test_semdedup_as_of(spark, tmp_path):
    from feast_spark.operators.semdedup import semdedup_against_index
    from feast_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
        )

    base = vecs([(i, [1.0, 0.0, 0.0]) for i in (1, 2, 3)]
                + [(i, [0.0, 1.0, 0.0]) for i in (4, 5)])
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=2, iters=2)
    ivf_index_append(spark, path, vecs([(10, [1.0, 0.0, 0.0])]))
    probe = vecs([(99, [1.0, 0.0, 0.0])])
    at_head = _rows(
        semdedup_against_index(spark, path, probe).orderBy("id_a", "id_b")
    )
    at_build = _rows(
        semdedup_against_index(spark, path, probe, as_of=1)
        .orderBy("id_a", "id_b")
    )
    # vector 10 only exists at head
    assert len(at_head) == len(at_build) + 1
    assert all(a != 10 and b != 10 for a, b, _ in at_build)


# ---------------------------------------------------------------------------
# tags: named pinned commits (Iceberg tag discipline)
# ---------------------------------------------------------------------------


@pytest.mark.nightly
def test_tags_pin_commits_through_vacuum(spark, docs, tmp_path):
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_topk,
        bm25_index_vacuum,
        build_bm25_index,
    )

    fs = LocalFS()
    path = str(tmp_path / "bm25")
    build_bm25_index(
        docs.filter(F.col("doc_id") < 16), path, "doc_id", "text",
        n_term_buckets=4,
    )
    at_build = _rows(bm25_index_topk(spark, path, ["alpha"], k=8))
    epochs_io.tag_commit(path, fs, "june-train", 1)
    bm25_index_append(spark, path, docs.filter(F.col("doc_id") >= 16))
    bm25_index_compact(spark, path)

    # default vacuum (retain_last=0) would normally expire seq 1 — the
    # tag pins it: epochs kept, archive entry kept, as_of by NAME works
    out = bm25_index_vacuum(path)
    assert "1" not in out["history_expired"]
    assert _rows(
        bm25_index_topk(spark, path, ["alpha"], k=8, as_of="june-train")
    ) == at_build
    assert _rows(
        bm25_index_topk(spark, path, ["alpha"], k=8, as_of=1)
    ) == at_build

    # deleting the tag releases the pin: next vacuum reclaims it
    epochs_io.delete_tag(path, fs, "june-train")
    out = bm25_index_vacuum(path)
    assert "1" in out["history_expired"]
    with pytest.raises(ValueError, match="archived commits"):
        bm25_index_topk(spark, path, ["alpha"], k=8, as_of=1).collect()
    with pytest.raises(ValueError, match="no tag"):
        bm25_index_topk(
            spark, path, ["alpha"], k=8, as_of="june-train"
        ).collect()


def test_tag_validation(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    epochs_io.commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})
    with pytest.raises(ValueError, match="no archived manifest"):
        epochs_io.tag_commit(root, fs, "x", 9)
    for bad in ("", "7", "a=b", "a,b"):
        with pytest.raises(ValueError, match="tag name"):
            epochs_io.tag_commit(root, fs, bad, 1)
    with pytest.raises(ValueError, match="no tag"):
        epochs_io.delete_tag(root, fs, "missing")
    # re-tagging moves the pin
    head = epochs_io.read_manifest(root, fs)
    epochs_io.commit_manifest(root, fs, {**head, "epochs": [0, 1]})
    epochs_io.tag_commit(root, fs, "x", 1)
    epochs_io.tag_commit(root, fs, "x", 2)
    assert epochs_io.read_tags(root, fs) == {"x": 2}


@pytest.mark.nightly
def test_tag_cli(docs, tmp_path, capsys):
    from feast_spark.cli import main
    from feast_spark.operators.bm25 import build_bm25_index

    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path, "doc_id", "text", n_term_buckets=4)

    assert main(["tag", path, "release-1"]) == 0  # pins head (seq 1)
    assert "commit_seq=1" in capsys.readouterr().out
    assert main(["tag", path, "--list"]) == 0
    assert "release-1 -> commit_seq=1" in capsys.readouterr().out
    # the commit log shows the pin
    assert main(["doctor", "--history", path]) == 0
    assert "tags=['release-1']" in capsys.readouterr().out
    assert main(["tag", path, "release-1", "--delete"]) == 0
    capsys.readouterr()
    assert main(["tag", path, "nope", "--seq", "9"]) == 2
    assert main(["tag", str(tmp_path / "missing"), "x"]) == 2
    assert main(["tag", path]) == 2  # NAME required without --list


@pytest.mark.nightly
def test_streaming_sink_commits_are_time_travel_targets(spark, tmp_path):
    """Every micro-batch the streaming sink folds in goes through
    commit_manifest, so it lands in the history log: as_of to the
    pre-stream commit serves exactly the pre-stream index, and the
    archived mid-stream manifest carries its stream_epoch watermark."""
    import json

    from pyspark.sql import types as T

    from feast_spark.operators.bm25 import bm25_index_topk, build_bm25_index
    from feast_spark.streaming.index_sink import bm25_index_sink

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    first = [(i, f"alpha scan doc{i}") for i in range(40)]
    rest = [(i, "alpha alpha fresh") for i in range(100, 120)]

    idx = str(tmp_path / "idx")
    build_bm25_index(
        spark.createDataFrame(first, schema), idx, "doc_id", "text",
        n_term_buckets=4,
    )
    pre_stream = _rows(bm25_index_topk(spark, idx, ["alpha"], k=8))

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(rest, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(schema).parquet(str(src / "b1"))
    q = (
        stream.writeStream.foreachBatch(bm25_index_sink(spark, idx))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert _rows(bm25_index_topk(spark, idx, ["alpha"], k=8)) != pre_stream
    # seq 1 = the batch build; the stream's fold is a later commit
    assert _rows(bm25_index_topk(spark, idx, ["alpha"], k=8, as_of=1)) \
        == pre_stream
    fs = LocalFS()
    head_seq = epochs_io.read_manifest(idx, fs)["commit_seq"]
    archived = json.loads(
        fs.read_bytes(f"{idx}/_history/commit_seq={head_seq}.json")
    )
    assert archived["stream_epoch"] == 0  # the watermark is archived too


@pytest.mark.nightly
def test_pinned_coalescers_serve_the_tagged_commit(spark, tmp_path):
    """A serving tier pinned to as_of (seq or tag) replays exactly the
    pinned commit through the fused batch path — rollback / A/B as a
    coalescer constructor argument, vacuum-immune when tagged."""
    from feast_spark.operators.bm25 import bm25_index_topk
    from feast_spark.operators.paired_index import hybrid_index_append
    from feast_spark.serving import BM25QueryCoalescer, VectorQueryCoalescer
    from feast_spark.operators.vector_index import vector_index_topk

    bp, vp = _pair(spark, tmp_path, range(12))
    fs = LocalFS()
    b_seq = epochs_io.read_manifest(bp, fs)["commit_seq"]
    v_seq = epochs_io.read_manifest(vp, fs)["commit_seq"]
    epochs_io.tag_commit(bp, fs, "prod", b_seq)
    epochs_io.tag_commit(vp, fs, "prod", v_seq)
    lex_then = _rows(bm25_index_topk(spark, bp, ["alpha", "scan"], k=5))
    q = _vecs(spark, [1000])
    vec_then = _rows(
        vector_index_topk(spark, vp, q, n_probe=2, k=4).orderBy("rank")
    )

    slice2 = spark.createDataFrame(
        [(i, "alpha alpha scan fresh",
          [1.0, 1.0, 1.0]) for i in range(50, 60)],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(spark, bp, vp, slice2, id_col="doc_id",
                        vec_col="embedding")

    with BM25QueryCoalescer(
        spark, bp, k=5, max_batch=1, max_wait_ms=10.0, as_of="prod"
    ) as lex_co:
        assert lex_co.query(["alpha", "scan"]) == lex_then
        # the pinned identity is in the stats payload (and therefore
        # GET /metrics): an ops reader diagnosing an A/B rollback sees
        # which commit this tier serves, not just its counters
        assert lex_co.stats()["as_of"] == "prod"
        # head serves the appended docs; the pin does not
        head_ids = {r[0] for r in bm25_index_topk(
            spark, bp, ["alpha", "scan"], k=5).collect()}
        assert head_ids & set(range(50, 60))
    qvec = [float(1000 % 5), float((1000 * 7) % 11), 1.0]
    with VectorQueryCoalescer(
        spark, vp, k=4, n_probe=2, max_batch=1, max_wait_ms=10.0,
        as_of="prod",
    ) as vec_co:
        got = vec_co.query(qvec)
        assert [g[0] for g in got] == [r[1] for r in vec_then]
        assert vec_co.stats()["as_of"] == "prod"
    # the hybrid pair pin serializes as a JSON list in stats/metrics
    from feast_spark.serving import HybridQueryCoalescer

    with HybridQueryCoalescer(
        spark, bp, vp, k=3, n_probe=2, max_batch=1, max_wait_ms=10.0,
        as_of=(b_seq, v_seq),
    ) as hy_co:
        assert hy_co.stats()["as_of"] == [b_seq, v_seq]
        json.dumps(hy_co.stats())  # the whole payload stays wire-safe


@pytest.mark.nightly
def test_hybrid_batch_as_of(spark, tmp_path):
    from feast_spark.operators.bm25 import hybrid_index_topk_batch
    from feast_spark.operators.paired_index import hybrid_index_append

    bp, vp = _pair(spark, tmp_path, range(12))
    fs = LocalFS()
    b_seq = epochs_io.read_manifest(bp, fs)["commit_seq"]
    v_seq = epochs_io.read_manifest(vp, fs)["commit_seq"]
    queries = spark.createDataFrame(
        [(1, ["alpha", "scan"], [1.0, 2.0, 1.0]),
         (2, ["doc3"], [0.0, 1.0, 1.0])],
        "query_id LONG, terms ARRAY<STRING>, qvec ARRAY<DOUBLE>",
    )
    before = _rows(
        hybrid_index_topk_batch(
            spark, bp, None, queries, k=5, vec_index_path=vp, n_probe=2
        ).orderBy("query_id", "rank")
    )
    slice2 = spark.createDataFrame(
        [(i, "alpha scan fresh", [1.0, 2.0, 1.0]) for i in range(50, 56)],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    hybrid_index_append(spark, bp, vp, slice2, id_col="doc_id",
                        vec_col="embedding")
    after = _rows(
        hybrid_index_topk_batch(
            spark, bp, None, queries, k=5, vec_index_path=vp, n_probe=2
        ).orderBy("query_id", "rank")
    )
    assert after != before
    assert _rows(
        hybrid_index_topk_batch(
            spark, bp, None, queries, k=5, vec_index_path=vp, n_probe=2,
            as_of=(b_seq, v_seq),
        ).orderBy("query_id", "rank")
    ) == before
