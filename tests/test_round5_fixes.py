"""Pins for the round-5 fixes (VERDICT/ADVICE r4).

1. WAND block-key filter is a broadcast semi-join, not a string-concat
   in-list: at nb_max=256 a multi-term pruned query returns identical
   results to the exhaustive plan (VERDICT r4 #3's worst-case key count).
2. Salt/nb_max guards: the encoder's (term_code << 20) | salt packing is
   protected at build_segments entry AND inside the encoder (ADVICE r4).
3. Delete-only batch on a fielded index writes field_stats with
   n_docs == 0 (never drops the key) and queries return empty instead of
   scoring against stale base-manifest norms (ADVICE r4).
4. encode_segments enforces the python-worker memory bound from
   est_postings, a quarter of it for positional streams (ADVICE r4: the
   pandas encoder cannot spill).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark import storage
from content_rw_elasticsearch_spark.operators import segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)
from content_rw_elasticsearch_spark.streaming.ingest import apply_upserts


def test_pruned_semi_join_matches_exhaustive_at_nb_max_256(spark, tmp_path):
    """Multi-term AND/OR at nb_max=256: the pruned plan (broadcast
    semi-join key filter, up to |q|*256 keys) must equal the exhaustive
    decode, rank for rank."""
    out = str(tmp_path / "idx256")
    corpus = with_doc_id(synthesize_corpus(spark, 400, seed=11))
    segments.build_segments(
        corpus.select("doc_id", "content"), out, "content", "doc_id",
        n_buckets=2, target_block=4, nb_max=256,
    )
    idx = SegmentIndex.load(spark, out)
    idx.prune_min_postings = 0  # force the pruned branch
    for query, mode in (("def return self", "AND"), ("def return self", "OR")):
        pruned = [tuple(r) for r in idx.search(query, k=10, mode=mode,
                                               prune=True).collect()]
        exhaustive = [tuple(r) for r in idx.search(query, k=10, mode=mode,
                                                   prune=False).collect()]
        assert pruned == exhaustive and len(pruned) == 10


def test_nb_max_guard_at_build_entry(spark, tmp_path):
    corpus = with_doc_id(synthesize_corpus(spark, 5, seed=1))
    with pytest.raises(ValueError, match="2\\^20"):
        segments.build_segments(
            corpus.select("doc_id", "content"), str(tmp_path / "x"),
            "content", "doc_id", nb_max=(1 << 20) + 1,
        )


def test_salt_guard_in_encoder():
    import pandas as pd

    run = segments._encode_stream_fn()
    bad = pd.DataFrame(
        {"term": ["t"], "salt": [1 << 20], "nb": [1 << 21],
         "doc_id": [1], "tf": [1], "doc_len": [10]}
    )
    with pytest.raises(ValueError, match="salt"):
        list(run(iter([bad])))


def test_encode_partitions_scale_with_est_postings(spark):
    df = spark.createDataFrame(
        [("t", 0, 1, 1, 1, 10)],
        "term string, salt int, nb int, doc_id long, tf long, doc_len long",
    )
    segs = segments.encode_segments(df, est_postings=40_000_000)
    assert segs.rdd.getNumPartitions() >= (
        40_000_000 // segments.POSTINGS_PER_ENCODE_PARTITION
    )
    # positional streams carry a pos_vb blob per posting: the bound is a
    # quarter of the postings per partition
    pos = df.withColumn("pos_vb", F.lit(b"\x00").cast("binary"))
    segs = segments.encode_segments(pos, with_positions=True,
                                    est_postings=400_000_000)
    assert segs.rdd.getNumPartitions() >= (
        400_000_000 // (segments.POSTINGS_PER_ENCODE_PARTITION // 4)
    )


def test_delete_only_batch_zeroes_fielded_stats(spark, tmp_path):
    out = str(tmp_path / "fidx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "beta delta")],
        "doc_id long, text string",
    )
    fields = {"title": F.col("text"), "body": F.col("text")}
    segments.build_segments(docs, out, doc_col="doc_id", n_buckets=2,
                            target_block=64, nb_max=4, fields=fields)
    idx0 = SegmentIndex.load(spark, out)
    assert idx0.search("alpha", field="title", k=5).count() > 0

    # delete EVERY live document in one batch
    deletes = docs.withColumn("deleted", F.lit(True))
    dm = apply_upserts(spark, out, deletes, doc_col="doc_id",
                       deleted_col="deleted", fields=fields)
    # the delta manifest must carry field_stats (zeroed), not drop it
    assert dm["field_stats"] == {
        "title": {"n_docs": 0, "avgdl": 0.0},
        "body": {"n_docs": 0, "avgdl": 0.0},
    }
    idx = SegmentIndex.load(spark, out)
    # load picks the delta's zeroed stats, NOT the stale base manifest
    assert idx.field_stats["title"]["n_docs"] == 0
    assert idx.search("alpha", field="title", k=5).count() == 0


def test_tjob_cache_keyed_by_application_id(spark):
    from content_rw_elasticsearch_spark.operators import wand

    m = {"posting_count": 1000, "build_metrics": {"stage2_secs": 1.0}}
    wand.SegmentIndex._derive_crossover(spark, m)
    assert spark.sparkContext.applicationId in wand._TJOB_CACHE
