"""Incremental + streaming ingest: delta generations, tombstones, fold.

Gates: content visibility after upsert/delete (last-writer-wins, the
reference's idempotent uuid-keyed semantics); post-fold rank-identical
parity vs a from-scratch naive index on the updated corpus; streaming
micro-batches ≡ sequential batch application; idempotent batch re-apply."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.engine import InMemoryIndex
from content_rw_elasticsearch_spark.operators import segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.sources.corpus import synthesize_corpus, with_doc_id
from content_rw_elasticsearch_spark.streaming import ingest

BASE = "/tmp/spark_graft_test_ingest"


def _mk_index(spark, path, n=120):
    corpus = with_doc_id(synthesize_corpus(spark, n, seed=11))
    shutil.rmtree(path, ignore_errors=True)
    segments.build_segments(
        corpus.select("doc_id", "content"), path, "content", "doc_id",
        n_buckets=4, target_block=32, nb_max=16, snapshot_id="ingest-test",
    )
    return corpus


def _ids(df):
    return [r["doc_id"] for r in df.collect()]


def test_upsert_visibility_and_delete(spark):
    path = BASE + "_vis"
    corpus = _mk_index(spark, path)
    some_id = corpus.select("doc_id").orderBy("doc_id").collect()[10]["doc_id"]
    updates = spark.createDataFrame(
        [
            (some_id, "zzznewterm fresh content body", False),
            (9_999_999_001, "zzznewterm brand new document", False),
            (corpus.select("doc_id").orderBy("doc_id").collect()[11]["doc_id"], "", True),
        ],
        "doc_id long, content string, deleted boolean",
    )
    man = ingest.apply_upserts(spark, path, updates, "content", "doc_id", "deleted")
    assert man["committed"] and man["gen"] == 1 and man["n_deletes"] == 1

    idx = SegmentIndex.load(spark, path)
    # term only in the NEW versions → both docs found
    got = set(_ids(idx.search("zzznewterm", k=10)))
    assert got == {some_id, 9_999_999_001}
    # old content of the replaced doc no longer matches
    old_row = corpus.filter(F.col("doc_id") == some_id).collect()[0]
    old_terms = [t for t in old_row["content"].split() if len(t) > 3][:1]
    if old_terms:
        assert some_id not in set(_ids(idx.search(old_terms[0], k=1000)))
    # deleted doc is gone everywhere
    deleted_id = updates.collect()[2]["doc_id"]
    assert deleted_id not in set(_ids(idx.search("return import self the", k=1000, mode="OR")))
    # exact N: 120 docs + 1 new - 1 deleted = 120
    assert idx.n_docs == 120
    shutil.rmtree(path)


def test_duplicate_doc_ids_in_batch(spark):
    """Last-writer-wins is uuid-keyed: a batch with two versions of one
    doc must either be reduced via ts_col (latest row wins) or rejected —
    letting both through would double postings and inflate n_docs/avgdl."""
    path = BASE + "_dup"
    _mk_index(spark, path)
    dup = spark.createDataFrame(
        [
            (9_999_999_002, "zzzold stale version", False, 1),
            (9_999_999_002, "zzznew final version", False, 2),
        ],
        "doc_id long, content string, deleted boolean, ts long",
    )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        ingest.apply_upserts(spark, path, dup, "content", "doc_id", "deleted")
    man = ingest.apply_upserts(
        spark, path, dup, "content", "doc_id", "deleted", ts_col="ts"
    )
    assert man["n_upserts"] == 1
    idx = SegmentIndex.load(spark, path)
    assert set(_ids(idx.search("zzznew", k=10))) == {9_999_999_002}
    assert set(_ids(idx.search("zzzold", k=10))) == set()
    assert idx.n_docs == 121  # exactly ONE row joined the docs table
    shutil.rmtree(path)


def test_null_deleted_row_is_not_an_upsert(spark):
    """A row whose ``deleted`` flag is NULL never reaches the live set
    (``~deleted`` is NULL, so the filter drops it); the manifest's
    n_upserts must count only the rows that were written as new versions."""
    path = BASE + "_nulldel"
    _mk_index(spark, path)
    updates = spark.createDataFrame(
        [
            (9_999_999_003, "zzzlive fresh document", False),
            (9_999_999_004, "zzznullflag flagged document", None),
        ],
        "doc_id long, content string, deleted boolean",
    )
    man = ingest.apply_upserts(spark, path, updates, "content", "doc_id", "deleted")
    assert man["n_upserts"] == 1 and man["n_deletes"] == 0
    idx = SegmentIndex.load(spark, path)
    assert set(_ids(idx.search("zzzlive", k=10))) == {9_999_999_003}
    assert set(_ids(idx.search("zzznullflag", k=10))) == set()
    shutil.rmtree(path)


def test_fold_restores_exact_parity(spark):
    path = BASE + "_fold"
    corpus = _mk_index(spark, path)
    ids = [r["doc_id"] for r in corpus.select("doc_id").orderBy("doc_id").limit(6).collect()]
    up1 = spark.createDataFrame(
        [(ids[0], "varbyte lucene rewritten body", False),
         (ids[1], "", True)],
        "doc_id long, content string, deleted boolean",
    )
    up2 = spark.createDataFrame(
        [(ids[2], "tokenizer posting checkpoint fresh", False),
         (ids[0], "varbyte lucene rewritten twice", False)],  # re-update
        "doc_id long, content string, deleted boolean",
    )
    ingest.apply_upserts(spark, path, up1, "content", "doc_id", "deleted")
    ingest.apply_upserts(spark, path, up2, "content", "doc_id", "deleted")
    ingest.fold_deltas(spark, path)

    # updated corpus, built independently
    updated = (
        corpus.filter(~F.col("doc_id").isin(ids[0], ids[1], ids[2]))
        .select("doc_id", "content")
        .unionByName(spark.createDataFrame(
            [(ids[0], "varbyte lucene rewritten twice"),
             (ids[2], "tokenizer posting checkpoint fresh")],
            "doc_id long, content string",
        ))
    )
    naive = InMemoryIndex.build(updated, "content", "doc_id")
    idx = SegmentIndex.load(spark, path)
    idx.prune_min_postings = 0
    assert idx.generations == []  # deltas folded away
    for q, mode, k in [("return import", "AND", 10), ("varbyte", "AND", 10),
                       ("tokenizer posting", "OR", 15)]:
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, k=k, mode=mode).collect()]
        want = [(r["doc_id"], r["score"]) for r in naive.search(q, k=k, mode=mode).collect()]
        assert got == want, q
    naive.unpersist()
    shutil.rmtree(path)


def test_batch_reapply_idempotent(spark):
    """Kill-between-write-and-manifest: re-applying the same batch at the
    same generation converges to the same state."""
    path = BASE + "_idem"
    _mk_index(spark, path)
    updates = spark.createDataFrame(
        [(7_777_001, "idempotent replay content", False)],
        "doc_id long, content string, deleted boolean",
    )
    m1 = ingest.apply_upserts(spark, path, updates, "content", "doc_id", "deleted")
    # simulate the crash: drop the manifest (segments/tombstones remain)
    import os
    os.remove(f"{path}/delta_manifest_{m1['gen']:06d}.json")
    m2 = ingest.apply_upserts(spark, path, updates, "content", "doc_id", "deleted")
    assert m2["gen"] == m1["gen"]
    idx = SegmentIndex.load(spark, path)
    assert set(_ids(idx.search("idempotent replay", k=10))) == {7_777_001}
    assert idx.n_docs == 121
    shutil.rmtree(path)


def test_stream_ingest_microbatches(spark, tmp_path):
    """Structured Streaming foreachBatch drain ≡ sequential batches."""
    path = BASE + "_stream"
    _mk_index(spark, path)
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(8_888_001, "streamterm alpha", False)],
        "doc_id long, content string, deleted boolean",
    ).write.parquet(src + "/b1")
    spark.createDataFrame(
        [(8_888_002, "streamterm beta", False)],
        "doc_id long, content string, deleted boolean",
    ).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema("doc_id long, content string, deleted boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.stream_ingest(spark, stream, path, ckpt, "content", "doc_id", "deleted")
    q.awaitTermination(120)
    idx = SegmentIndex.load(spark, path)
    assert set(_ids(idx.search("streamterm", k=10))) == {8_888_001, 8_888_002}
    assert idx.n_docs == 122
    shutil.rmtree(path)


def test_streaming_dedup_first_wins_state(spark, tmp_path):
    """applyInPandasWithState dedup: the first occurrence of a content
    fingerprint wins FOREVER — a duplicate arriving in a LATER microbatch
    is suppressed by per-key state (not just batch-local distinct), and
    the re-emitted row carries the updated suppressed count."""
    from content_rw_elasticsearch_spark.streaming import stateful

    src = str(tmp_path / "dd_src")
    ckpt = str(tmp_path / "dd_ckpt")
    # batch 1: doc 1 ("aa"), doc 2 ("bb"), doc 3 ("aa" — in-batch dup)
    spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1")
    # batch 2: doc 4 ("aa" — CROSS-batch dup), doc 5 ("cc" — new)
    spark.createDataFrame(
        [(4, "aa"), (5, "cc")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b2")
    # FileStreamSource orders batches by file mtime: pin b1 strictly
    # earlier so cross-batch suppression is tested deterministically
    import os as _os
    import time as _time
    now = _time.time()
    for d, ts in ((src + "/b1", now - 60), (src + "/b2", now)):
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (ts, ts))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stateful.streaming_dedup_first_wins(stream)
        .writeStream.format("memory").queryName("dd_sink")
        .outputMode("update").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dd_sink").collect()
    # latest state per sha = the LAST row emitted for it
    latest = {}
    for r in rows:
        latest[r["content_sha"]] = (r["doc_id"], r["n_suppressed"])
    import hashlib
    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    # "aa": first=1 (in-batch tie 1<3), suppressed = 2 (doc 3, then doc 4)
    assert latest[sha("aa")] == (1, 2)
    assert latest[sha("bb")] == (2, 0)
    assert latest[sha("cc")] == (5, 0)
    # cross-batch suppression really happened across TWO emissions
    aa_rows = [r for r in rows if r["content_sha"] == sha("aa")]
    assert len(aa_rows) == 2 and {r["n_suppressed"] for r in aa_rows} == {1, 2}


def test_time_travel_load_as_of_generation(spark):
    """SegmentIndex.load(as_of_gen=g) reproduces exactly the post-g
    state: later upserts AND later tombstones are excluded, n_docs/avgdl
    come from generation g's manifest, and a generation folded into the
    base raises instead of silently serving newer data — the
    reproducibility pin a training pipeline holds across reruns."""
    path = BASE + "_tt"
    _mk_index(spark, path)
    base_n = SegmentIndex.load(spark, path).n_docs
    up = lambda rows: ingest.apply_upserts(  # noqa: E731
        spark, path,
        spark.createDataFrame(rows, "doc_id long, content string, deleted boolean"),
        "content", "doc_id", "deleted",
    )
    m1 = up([(7_000_001, "travelterm alpha body", False)])
    m2 = up([(7_000_002, "travelterm beta body", False),
             (7_000_001, "", True)])  # gen 2 deletes the gen-1 doc
    assert (m1["gen"], m2["gen"]) == (1, 2)

    at1 = SegmentIndex.load(spark, path, as_of_gen=1)
    assert set(_ids(at1.search("travelterm", k=10))) == {7_000_001}
    assert at1.n_docs == base_n + 1  # gen-1 manifest stats, not latest

    at2 = SegmentIndex.load(spark, path, as_of_gen=2)
    assert set(_ids(at2.search("travelterm", k=10))) == {7_000_002}
    # latest load ≡ as-of the newest generation
    latest = SegmentIndex.load(spark, path)
    assert latest.generations == at2.generations == [1, 2]
    assert at1.generations == [1]

    # fold retires the deltas: pre-fold states are gone, and asking for
    # one is an ERROR, not a silent fallback to the folded base
    ingest.fold_deltas(spark, path)
    folded = SegmentIndex.load(spark, path)
    assert set(_ids(folded.search("travelterm", k=10))) == {7_000_002}
    with pytest.raises(ValueError, match="folded"):
        SegmentIndex.load(spark, path, as_of_gen=1)
    shutil.rmtree(path)


def test_fold_gc_spares_generation_committed_after_fold(spark, monkeypatch):
    """Fold's background GC removes only the folded delta generations.
    The GC thread is held until a following
    apply_upserts has committed delta/gen=min_gen+1 under the same
    delta/ root; a GC of the whole root would delete that committed
    generation's segments and tombstones."""
    import threading

    path = BASE + "_gc_race"
    corpus = _mk_index(spark, path)
    ids = [r["doc_id"] for r in
           corpus.select("doc_id").orderBy("doc_id").limit(3).collect()]
    rows = "doc_id long, content string, deleted boolean"
    ingest.apply_upserts(spark, path, spark.createDataFrame(
        [(ids[0], "folded generation body", False)], rows),
        "content", "doc_id", "deleted")

    release = threading.Event()
    held = []

    class HeldGC(threading.Thread):
        def __init__(self, *args, target=None, **kwargs):
            if getattr(target, "__name__", None) == "_gc":
                gc = target

                def target():
                    release.wait()
                    gc()
                held.append(self)
            super().__init__(*args, target=target, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(threading, "Thread", HeldGC)
        ingest.fold_deltas(spark, path)
    assert len(held) == 1
    try:
        man = ingest.apply_upserts(spark, path, spark.createDataFrame(
            [(ids[1], "zzzgcmarker updated body", False),
             (9_999_999_010, "zzzgcmarker inserted body", False),
             (ids[2], "", True)], rows),
            "content", "doc_id", "deleted")
    finally:
        release.set()
        held[0].join(timeout=60)
    assert not held[0].is_alive()
    assert man["gen"] == 2
    idx = SegmentIndex.load(spark, path)
    assert idx.generations == [2]
    got = sorted(_ids(idx.search("zzzgcmarker", k=10, mode="OR")))
    assert got == sorted([ids[1], 9_999_999_010])
    shutil.rmtree(path)


def test_failed_segment_encode_leaves_docs_table_unchanged(spark, monkeypatch):
    """apply_upserts swaps the docs table only after the segment,
    tombstone and docs writes all succeed. A batch whose segment encode
    raises must leave docs/ as it was; ghost rows there would skew
    n_docs/avgdl in every later manifest."""
    path = BASE + "_failed_encode"
    corpus = _mk_index(spark, path)
    ids = [r["doc_id"] for r in
           corpus.select("doc_id").orderBy("doc_id").limit(2).collect()]
    rows = "doc_id long, content string, deleted boolean"

    def docs_rows():
        return sorted(tuple(r) for r in spark.read.parquet(
            f"{path}/docs").collect())

    before = docs_rows()
    n_docs = SegmentIndex.load(spark, path).n_docs

    def broken_encode(*args, **kwargs):
        raise RuntimeError("segment encode failed")

    with monkeypatch.context() as mp:
        # the encoder of either executor: Spark's and the driver's
        mp.setattr(ingest, "encode_segments", broken_encode)
        mp.setattr(ingest, "_encode_groups", broken_encode)
        with pytest.raises(RuntimeError, match="segment encode failed"):
            ingest.apply_upserts(spark, path, spark.createDataFrame(
                [(ids[0], "zzzghost updated body", False),
                 (9_999_999_020, "zzzghost inserted body", False),
                 (ids[1], "", True)], rows),
                "content", "doc_id", "deleted")
    assert docs_rows() == before
    assert SegmentIndex.load(spark, path).n_docs == n_docs

    # the next batch counts the corpus without the failed batch's rows
    man = ingest.apply_upserts(spark, path, spark.createDataFrame(
        [(9_999_999_021, "zzzafter inserted body", False)], rows),
        "content", "doc_id", "deleted")
    assert man["gen"] == 1 and man["n_docs"] == n_docs + 1
    assert _ids(SegmentIndex.load(spark, path).search("zzzghost", k=10)) == []
    shutil.rmtree(path)
