"""Snapshot/restore (maintenance.py — the ES _snapshot analog): a
snapshot is a point-in-time copy of the committed state; mutations to
the source after the snapshot never leak into a restore, and a restored
index answers queries exactly as the source did at snapshot time.
"""

from __future__ import annotations

import pytest

from content_rw_elasticsearch_spark.maintenance import (
    restore_index,
    snapshot_index,
)
from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.streaming.ingest import apply_upserts

DOCS = [
    (1, "hash join build probe"),
    (2, "hash join hash join"),
    (3, "merge join sort runs"),
    (4, "unrelated lorem ipsum"),
]


def _rows(ix, q="hash join"):
    ix.prune_min_postings = 0
    return [(r["doc_id"], r["score"]) for r in
            ix.search(q, k=10, mode="AND").collect()]


def test_snapshot_restore_point_in_time(spark, tmp_path):
    src = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_segments(corpus, src, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=8, nb_max=4)
    # one committed delta BEFORE the snapshot
    apply_upserts(spark, src, spark.createDataFrame(
        [(5, "hash join fresh", False)],
        "doc_id long, text string, deleted boolean"),
        text_col="text", deleted_col="deleted")
    at_snapshot = _rows(SegmentIndex.load(spark, src))

    snap = str(tmp_path / "snap")
    rec = snapshot_index(src, snap)
    assert rec["generations"] == [1] and rec["n_files"] > 0

    # mutate the SOURCE after the snapshot: delete doc 1, add doc 6
    apply_upserts(spark, src, spark.createDataFrame(
        [(1, None, True), (6, "hash join later", False)],
        "doc_id long, text string, deleted boolean"),
        text_col="text", deleted_col="deleted")
    after = _rows(SegmentIndex.load(spark, src))
    assert {d for d, _ in after} != {d for d, _ in at_snapshot}

    # restore elsewhere → exactly the snapshot-time answers
    dst = str(tmp_path / "restored")
    rec2 = restore_index(snap, dst)
    assert rec2["generations"] == [1]
    restored = _rows(SegmentIndex.load(spark, dst))
    assert restored == at_snapshot
    assert {d for d, _ in restored} == {1, 2, 5}

    # the restored copy ingests independently of the source
    apply_upserts(spark, dst, spark.createDataFrame(
        [(7, "hash join branched", False)],
        "doc_id long, text string, deleted boolean"),
        text_col="text", deleted_col="deleted")
    branched = _rows(SegmentIndex.load(spark, dst))
    assert 7 in {d for d, _ in branched}
    assert _rows(SegmentIndex.load(spark, src)) == after  # source untouched


def test_snapshot_refuses_bad_targets(spark, tmp_path):
    src = str(tmp_path / "idx2")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_segments(corpus, src, text_col="text", doc_col="doc_id",
                   n_buckets=1, target_block=8, nb_max=2)
    snap = str(tmp_path / "snap2")
    snapshot_index(src, snap)
    with pytest.raises(FileExistsError):
        snapshot_index(src, snap)  # non-empty destination
    with pytest.raises(FileNotFoundError):
        snapshot_index(str(tmp_path / "nope"), str(tmp_path / "s3"))
    with pytest.raises(FileNotFoundError):
        restore_index(src, str(tmp_path / "r2"))  # an index, not a snapshot
    with pytest.raises(FileExistsError):
        restore_index(snap, src)  # non-empty restore target


def test_rollover_ingest_and_alias_search(spark, tmp_path):
    """ES rollover: batches ingest into the active shard until max_docs,
    then a fresh shard starts; alias search over all shards must equal a
    single index built over the union of live docs."""
    from content_rw_elasticsearch_spark.maintenance import rollover_ingest
    from content_rw_elasticsearch_spark.operators.wand import search_sharded

    alias = str(tmp_path / "alias")
    opts = dict(text_col="text", doc_col="doc_id", deleted_col="deleted",
                n_buckets=1, target_block=8, nb_max=4)
    batches = [
        [(1, "hash join alpha", False), (2, "hash join beta", False)],
        [(3, "hash gamma", False)],                 # fits shard 0 (3 < 4)
        [(4, "hash join delta", False),
         (5, "merge sort", False)],   # shard 0 at 3 < 4 when checked →
        #                               still ingests (ES checks BEFORE)
        [(6, "hash join omega", False)],   # shard 0 at 5 >= 4 → rolls
    ]
    dirs = None
    for b in batches:
        bdf = spark.createDataFrame(
            b, "doc_id long, text string, deleted boolean")
        dirs = rollover_ingest(spark, alias, bdf, max_docs=4, **opts)
    assert len(dirs) == 2  # one rollover happened
    from content_rw_elasticsearch_spark.maintenance import load_alias
    shards = load_alias(spark, alias)
    assert [ix.path for ix in shards] == dirs
    for ix in shards:
        ix.prune_min_postings = 0
    union = [r for b in batches for r in b]
    single_dir = str(tmp_path / "uni")
    corpus = spark.createDataFrame(
        [(d, t) for d, t, _ in union], "doc_id long, text string")
    build_segments(corpus, single_dir, text_col="text", doc_col="doc_id",
                   n_buckets=1, target_block=8, nb_max=4)
    single = SegmentIndex.load(spark, single_dir)
    single.prune_min_postings = 0
    for q, mode in (("hash join", "AND"), ("hash", "OR")):
        got = [(r["doc_id"], r["score"]) for r in
               search_sharded(shards, q, k=10, mode=mode).collect()]
        exp = [(r["doc_id"], r["score"]) for r in
               single.search(q, k=10, mode=mode).collect()]
        assert got == exp and got, (q, mode)
    # deletes route to the ACTIVE shard (doc 6 lives there)
    dead = spark.createDataFrame(
        [(6, None, True)], "doc_id long, text string, deleted boolean")
    dirs = rollover_ingest(spark, alias, dead, max_docs=4, **{
        k: v for k, v in opts.items()
        if k in ("text_col", "doc_col", "deleted_col")})
    shards = [SegmentIndex.load(spark, d) for d in dirs]
    for ix in shards:
        ix.prune_min_postings = 0
    got = {r["doc_id"] for r in
           search_sharded(shards, "hash join", k=10, mode="AND").collect()}
    assert 6 not in got and got


def _tree(root):
    import os
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(
            os.path.join(d, f)))
        for d, _dirs, fs in os.walk(root) for f in fs)


def test_snapshot_never_writes_to_the_source(spark, tmp_path):
    """A docs/ missing from the source is a docs-table swap in flight
    (apply_upserts moved it to docs.bak and is about to rename docs.tmp
    in). Snapshot is a read path: it must not 'heal' the swap by renaming
    docs.bak back — that would break the ingest's own rename — so the
    source tree stays byte-for-byte as it was, and a swap that never
    completes fails the snapshot instead of shipping a copy without a
    docs table."""
    import os

    src = str(tmp_path / "idx3")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_segments(corpus, src, text_col="text", doc_col="doc_id",
                   n_buckets=1, target_block=8, nb_max=2)
    os.rename(os.path.join(src, "docs"), os.path.join(src, "docs.bak"))
    before = _tree(src)
    snap = str(tmp_path / "snap3")
    with pytest.raises(RuntimeError, match="kept changing"):
        snapshot_index(src, snap)
    assert _tree(src) == before
    assert not os.path.exists(os.path.join(src, "docs"))
    assert not os.path.exists(snap) or not os.listdir(snap)
