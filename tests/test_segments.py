"""Segment store + block-max pruned query path.

Gates (SURVEY.md §7 Milestone 2/3): WAND results ≡ exhaustive segment
results ≡ naive in-memory results; codec round-trip identity; resumable
restart correctness; merge preserves results; validation invariants."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from content_rw_elasticsearch_spark.engine import InMemoryIndex
from content_rw_elasticsearch_spark.operators import codec, segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)

OUT = "/tmp/spark_graft_test_index"


def _collect(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def built(spark):
    corpus = with_doc_id(synthesize_corpus(spark, 300, seed=7)).persist()
    shutil.rmtree(OUT, ignore_errors=True)
    # small block target so multi-block terms + salting actually happen
    manifest = segments.build_segments(
        corpus, OUT, "content", "doc_id", n_buckets=4,
        target_block=32, nb_max=16, snapshot_id="test-snap",
    )
    naive = InMemoryIndex.build(corpus, "content", "doc_id")
    seg = SegmentIndex.load(spark, OUT)
    seg.prune_min_postings = 0  # force the block-max pruning branch in tests
    yield corpus, naive, seg, manifest
    naive.unpersist()
    corpus.unpersist()


def test_codec_roundtrip_property():
    rng = np.random.RandomState(42)
    for _ in range(100):
        n = rng.randint(0, 500)
        a = rng.randint(0, 2**62, size=n).astype(np.uint64)
        assert np.array_equal(codec.varbyte_decode(codec.varbyte_encode(a)), a)
        s = np.unique(a)
        assert np.array_equal(codec.delta_decode(codec.delta_encode(s)), s)


QUERIES = [
    ("return import", "AND", 10),
    ("return", "AND", 10),           # hottest term, max salting
    ("varbyte lucene", "OR", 10),
    ("quartz", "AND", 5),
    ("return import self the", "AND", 15),   # all hot (WAND worst case)
    ("absent return", "AND", 10),    # empty
    ("posting checkpoint", "OR", 25),
]


@pytest.mark.parametrize("query,mode,k", QUERIES)
def test_segment_matches_naive_and_wand(built, query, mode, k):
    _, naive, seg, _ = built
    expected = _collect(naive.search(query, k=k, mode=mode))
    exhaustive = _collect(seg.search(query, k=k, mode=mode, prune=False))
    pruned = _collect(seg.search(query, k=k, mode=mode, prune=True))
    assert exhaustive == expected, "segment decode path diverged from naive"
    assert pruned == expected, "block-max pruning changed results"


def test_manifest_lineage(built):
    _, _, _, manifest = built
    assert manifest["snapshot_id"] == "test-snap"
    assert manifest["committed"] is True
    assert manifest["posting_count"] > 0
    with open(os.path.join(OUT, "manifest_bucket_0.json")) as f:
        b0 = json.load(f)
    assert b0["committed"] and b0["segment_files"]
    assert "secs" in b0["build_metrics"]


def test_hot_terms_are_salted(spark, built):
    segs = spark.read.parquet(os.path.join(OUT, "segments"))
    from pyspark.sql import functions as F
    per_term = {r["term"]: (r["blocks"], r["nb"]) for r in
                segs.groupBy("term").agg(F.count("*").alias("blocks"),
                                         F.max("nb").alias("nb")).collect()}
    assert per_term["return"][1] > 1, "hot term must fan out over salts"
    # 'hotterm' occurs in exactly one doc (edge row id 6) → df=1 → one block
    assert per_term["hotterm"][1] == 1, "rare term must stay in one block"


def test_validate_index(spark, built):
    m = segments.validate_index(spark, OUT)
    assert m["committed"]


def test_resumable_restart(spark, built):
    """Kill-and-restart: drop one bucket's manifest + segments; a rebuild
    must reconstruct ONLY that bucket and produce identical results."""
    corpus, naive, _, _ = built
    dst = "/tmp/spark_graft_test_resume"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(OUT, dst)
    os.remove(os.path.join(dst, "index.json"))
    os.remove(os.path.join(dst, "manifest_bucket_2.json"))
    shutil.rmtree(os.path.join(dst, "segments", "bucket=2"))
    kept_before = os.listdir(os.path.join(dst, "segments", "bucket=1"))
    segments.build_segments(
        corpus, dst, "content", "doc_id", n_buckets=4,
        target_block=32, nb_max=16, snapshot_id="test-snap",
    )
    # untouched bucket was not rebuilt
    assert os.listdir(os.path.join(dst, "segments", "bucket=1")) == kept_before
    seg = SegmentIndex.load(spark, dst)
    seg.prune_min_postings = 0
    for query, mode, k in QUERIES[:3]:
        assert _collect(seg.search(query, k=k, mode=mode)) == _collect(
            naive.search(query, k=k, mode=mode)
        )
    segments.validate_index(spark, dst)
    shutil.rmtree(dst)


def test_merge_preserves_results(spark, built):
    corpus, naive, _, _ = built
    dst = "/tmp/spark_graft_test_merge"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(OUT, dst)
    before_blocks = spark.read.parquet(os.path.join(dst, "segments")).count()
    segments.merge_segments(spark, dst, target_block=10_000)
    # the merged base lives in a NEW versioned dir committed via index.json
    with open(os.path.join(dst, "index.json")) as f:
        m = json.load(f)
    assert m["seg_dir"] == "segments_v1" and not os.path.exists(
        os.path.join(dst, "segments")
    )
    after_blocks = spark.read.parquet(os.path.join(dst, m["seg_dir"])).count()
    assert after_blocks < before_blocks, "merge must compact blocks"
    seg = SegmentIndex.load(spark, dst)
    seg.prune_min_postings = 0
    for query, mode, k in QUERIES[:5]:
        assert _collect(seg.search(query, k=k, mode=mode)) == _collect(
            naive.search(query, k=k, mode=mode)
        ), query
    shutil.rmtree(dst)


def _blocks(spark, out):
    return {
        (r["term"], r["salt"]): (
            r["nb"], r["count"], r["max_tf"], r["min_dl"],
            bytes(r["docs_vb"]), bytes(r["tfs_vb"]), bytes(r["dlens_vb"]),
            bytes(r["pos_vb"] or b""), r["bucket"],
        )
        for r in spark.read.parquet(os.path.join(out, "segments")).collect()
    }


def test_staging_carries_stage2_inputs(spark, tmp_path):
    """Stage 2 reads its inputs from stage 1 with no fallback: the staging
    manifest must carry bucket_postings and tids_unique, and the staging
    parquet a tid column plus, for positional builds, pos_vb (never the
    array `positions`). The tid-collision string path (tids_unique False)
    must encode the same blocks as the tid path."""
    corpus = with_doc_id(synthesize_corpus(spark, 60, seed=3)) \
        .select("doc_id", "content")
    for with_positions in (False, True):
        out = str(tmp_path / f"pos{int(with_positions)}")
        manifest = segments.build_segments(
            corpus, out, "content", "doc_id", n_buckets=3, target_block=16,
            nb_max=8, with_positions=with_positions,
        )
        with open(os.path.join(out, "_staging_manifest.json")) as f:
            stage1 = json.load(f)
        assert stage1["positions"] is with_positions
        assert stage1["tids_unique"] is True
        assert set(stage1["bucket_postings"]) == {"0", "1", "2"}
        assert sum(stage1["bucket_postings"].values()) \
            == manifest["posting_count"] > 0
        cols = set(spark.read.parquet(os.path.join(out, "staging")).columns)
        assert "tid" in cols and "positions" not in cols
        assert ("pos_vb" in cols) is with_positions

        # rerun stage 2 through the string-keyed path
        for name in os.listdir(out):
            if name == "index.json" or name.startswith("manifest_bucket_"):
                os.remove(os.path.join(out, name))
        expected = _blocks(spark, out)
        shutil.rmtree(os.path.join(out, "segments"))
        stage1["tids_unique"] = False
        with open(os.path.join(out, "_staging_manifest.json"), "w") as f:
            json.dump(stage1, f)
        segments.build_segments(
            corpus, out, "content", "doc_id", n_buckets=3, target_block=16,
            nb_max=8, with_positions=with_positions,
        )
        assert _blocks(spark, out) == expected
