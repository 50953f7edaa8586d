"""build_positional_postings_vb (doc-local numpy, pre-encoded pos_vb)
must be SEMANTICALLY IDENTICAL to the declarative agg builder — the
segment encoder byte-concats the per-posting blobs, so any divergence
(order, boundary restart, dtype) corrupts the positional store."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.operators import codec
from content_rw_elasticsearch_spark.operators import postings as P
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)


def test_positional_vb_builder_equals_agg(spark):
    """Over the synthetic corpus (incl. its pinned edge rows: empty doc,
    whitespace-only, non-ASCII, hot-term, very long) plus the staging
    sentinel token: same posting set, same tf/doc_len, and pos_vb decodes
    to the agg builder's sorted position arrays."""
    corpus = with_doc_id(synthesize_corpus(spark, 800, seed=7, parts=4)) \
        .select("doc_id", "content")
    tok = P.tokenized(corpus, "content", "doc_id")
    tok = tok.withColumn("tokens", F.concat("tokens", F.array(F.lit("\x00"))))

    ref = {
        (r["term"], r["doc_id"]): (r["tf"], r["doc_len"], list(r["positions"]))
        for r in P.build_positional_postings(tok).collect()
    }
    got = {}
    for r in P.build_positional_postings_vb(tok).collect():
        dec = codec.positions_decode(
            bytes(r["pos_vb"]), np.array([r["tf"]], dtype=np.int64)
        )
        got[(r["term"], r["doc_id"])] = (
            r["tf"], r["doc_len"], [int(x) for x in dec]
        )
    assert ref == got


def test_doclocal_builder_equals_agg(spark):
    """The non-positional doc-local form must match build_postings
    row-for-row (it is build_segments' non-positional staging path)."""
    corpus = with_doc_id(synthesize_corpus(spark, 500, seed=3, parts=4)) \
        .select("doc_id", "content")
    tok = P.tokenized(corpus, "content", "doc_id")
    tok = tok.withColumn("tokens", F.concat("tokens", F.array(F.lit("\x00"))))
    ref = {(r["term"], r["doc_id"]): (r["tf"], r["doc_len"])
           for r in P.build_postings(tok).collect()}
    got = {(r["term"], r["doc_id"]): (r["tf"], r["doc_len"])
           for r in P.build_postings_doclocal(tok).collect()}
    assert ref == got


def test_vb_builder_concat_equals_group_encode(spark):
    """The invariant the encoder's byte-concat path rests on: joining a
    group's per-posting pos_vb blobs in doc order equals one
    positions_encode over the flat group (delta restarts at every doc
    boundary in both)."""
    rows = [
        (1, "a b a b a"),   # a@{0,2,4}, b@{1,3}
        (2, "b a"),
        (3, "a a a a a a a a a a a a a a a a a a a a a"),  # 2-byte varint? no — positions small; tf 21
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    tok = P.tokenized(df, "content", "doc_id")
    out = {
        (r["term"], r["doc_id"]): (bytes(r["pos_vb"]), r["tf"])
        for r in P.build_positional_postings_vb(tok).collect()
    }
    # group "a" across docs 1,2,3 in doc order
    concat = out[("a", 1)][0] + out[("a", 2)][0] + out[("a", 3)][0]
    flat = np.array([0, 2, 4, 1] + list(range(21)), dtype=np.uint64)
    tfs = np.array([3, 1, 21], dtype=np.int64)
    assert concat == codec.positions_encode(flat, tfs)
