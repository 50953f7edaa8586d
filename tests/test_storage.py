"""Storage abstraction tests: the segment store must work when rooted at
a URI (file:// through the JVM Hadoop FileSystem — the same code path as
hdfs:// / s3a:// on a real cluster), and directory swaps must be
crash-recoverable (no window where a committed manifest points at a
missing directory)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from content_rw_elasticsearch_spark import storage
from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.storage import join as pjoin


def test_hadoop_fs_roundtrip(spark):
    fs = storage.fs_for("file:///tmp/spark_graft_fs_test", spark)
    assert isinstance(fs, storage.HadoopFS)
    base = "file:///tmp/spark_graft_fs_test"
    fs.rmtree(base)
    fs.makedirs(pjoin(base, "sub"))
    fs.write_bytes(pjoin(base, "sub", "a.json"), b'{"x": 1}')
    assert fs.exists(pjoin(base, "sub", "a.json"))
    assert storage.read_json(fs, pjoin(base, "sub", "a.json")) == {"x": 1}
    assert fs.listdir(pjoin(base, "sub")) == ["a.json"]
    fs.rename(pjoin(base, "sub", "a.json"), pjoin(base, "sub", "b.json"))
    assert fs.listdir(pjoin(base, "sub")) == ["b.json"]
    storage.write_json_atomic(fs, pjoin(base, "m.json"), {"committed": True})
    assert storage.read_json(fs, pjoin(base, "m.json"))["committed"]
    fs.rmtree(base)
    assert not fs.exists(base)


def test_build_and_query_at_file_uri(spark):
    """End-to-end: segment store rooted at a file:// URI goes through the
    Hadoop FileSystem for every manifest/dir operation and through Spark's
    own Hadoop writers for data — and must answer queries identically to a
    plain-path build."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma_{i % 7} delta{i % 3} alpha") for i in range(80)],
        "doc_id long, text string",
    )
    shutil.rmtree("/tmp/spark_graft_uri_build", ignore_errors=True)
    out = "file:///tmp/spark_graft_uri_build"
    m = build_segments(docs, out, text_col="text", doc_col="doc_id",
                       analyzer="simple", n_buckets=2, target_block=16,
                       nb_max=8, snapshot_id="uri-test")
    assert m["committed"] and m["n_docs"] == 80
    idx = SegmentIndex.load(spark, out)
    got = [(r["doc_id"], r["score"])
           for r in idx.search("alpha delta0", k=5, mode="AND").collect()]
    assert len(got) == 5
    # resumable: a second call must return the committed manifest, not rebuild
    assert build_segments(docs, out, text_col="text", doc_col="doc_id") == m
    shutil.rmtree("/tmp/spark_graft_uri_build", ignore_errors=True)


def test_uri_store_delta_generations_match_local(spark, tmp_path):
    """Tombstones on a URI store come from one collected Spark read (no
    pyarrow path there) and feed the same decoders and kernels: after a
    batch that deletes, updates and inserts, searches and phrases at a
    file:// root answer exactly like the same index at a plain path
    (which the driver executor serves)."""
    from content_rw_elasticsearch_spark.streaming.ingest import apply_upserts

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma_{i % 7} delta{i % 3} alpha") for i in range(80)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(0, None, True), (1, "alpha beta", False), (2, None, True),
         (500, "alpha delta0 beta alpha", False)],
        "doc_id long, text string, deleted boolean")
    answers = []
    for out in (f"file://{tmp_path}/uri", str(tmp_path / "local")):
        build_segments(docs, out, text_col="text", doc_col="doc_id",
                       n_buckets=2, target_block=16, nb_max=8,
                       with_positions=True)
        apply_upserts(spark, out, batch, text_col="text",
                      deleted_col="deleted")
        idx = SegmentIndex.load(spark, out)
        assert idx.generations == [1]
        answers.append((
            [tuple(r) for r in idx.search("alpha delta0", k=50).collect()],
            [tuple(r) for r in idx.search("beta", k=100).collect()],
            [tuple(r) for r in idx.phrase_search("alpha beta").collect()],
        ))
    uri, local = answers
    assert uri == local
    hits = {d for d, _ in uri[1]}
    assert 0 not in hits and 2 not in hits and {1, 500} <= hits


def test_swap_dir_crash_recovery(tmp_path):
    fs = storage.LocalFS()
    dst = str(tmp_path / "live")
    # simulate the crash window: old dir went aside, new dir never landed
    fs.makedirs(dst)
    fs.write_bytes(pjoin(dst, "old.txt"), b"old")
    fs.rename(dst, dst + ".bak")
    assert not fs.exists(dst)
    storage.restore_swap(fs, dst)
    assert fs.exists(pjoin(dst, "old.txt")) and not fs.exists(dst + ".bak")
    # simulate the other window: swap finished but .bak cleanup crashed
    fs.makedirs(dst + ".bak")
    storage.restore_swap(fs, dst)
    assert fs.exists(dst) and not fs.exists(dst + ".bak")


def test_swap_dir_replaces_live(tmp_path):
    fs = storage.LocalFS()
    dst, tmp = str(tmp_path / "live"), str(tmp_path / "incoming")
    fs.makedirs(dst)
    fs.write_bytes(pjoin(dst, "v.txt"), b"1")
    fs.makedirs(tmp)
    fs.write_bytes(pjoin(tmp, "v.txt"), b"2")
    storage.swap_dir(fs, tmp, dst)
    assert fs.read_bytes(pjoin(dst, "v.txt")) == b"2"
    assert not fs.exists(dst + ".bak") and not fs.exists(tmp)


def test_fold_commit_is_single_manifest_write(spark, tmp_path):
    """Fold writes a versioned base and retires deltas with ONE index.json
    commit; stale delta manifests left by a crashed GC are ignored via
    min_gen."""
    from content_rw_elasticsearch_spark.streaming.ingest import (
        apply_upserts,
        fold_deltas,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} common word{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=16, nb_max=8)
    upd = spark.createDataFrame(
        [(1, "common replacement text", False)],
        "doc_id long, text string, deleted boolean",
    )
    apply_upserts(spark, out, upd, "text", "doc_id", "deleted")
    before = {r["doc_id"] for r in
              SegmentIndex.load(spark, out).search("common", k=50, mode="OR").collect()}
    m = fold_deltas(spark, out)
    assert m["seg_dir"] == "segments_v1" and m["min_gen"] == 1
    idx = SegmentIndex.load(spark, out)
    assert idx.generations == []  # deltas retired
    # doc membership identical (scores legitimately shift: fold restores
    # EXACT df where the delta path counts superseded postings, the
    # documented Lucene-faithful approximation)
    after = {r["doc_id"] for r in idx.search("common", k=50, mode="OR").collect()}
    assert after == before and 1 in after
    # a stale delta manifest (crashed GC) must be ignored, not re-applied
    fs = storage.LocalFS()
    storage.write_json_atomic(
        fs, pjoin(out, "delta_manifest_000001.json"),
        {"gen": 1, "committed": True, "n_docs": 999, "avgdl": 9.9},
    )
    idx2 = SegmentIndex.load(spark, out)
    assert idx2.generations == [] and idx2.n_docs == idx.n_docs
