"""Oracle tests for block-level compaction (segments.compact_segments).

fold_deltas must leave exactly the index a fresh build_segments of the
final corpus writes: every column of every segment row, and the
manifest's n_docs, avgdl, posting_count and field_stats. merge_delta_tier
must leave exactly the generation one apply_upserts of the batches'
last-writer-wins union writes: segment rows and tombstone ids.

The data makes the fold re-block in every direction: a batch of 70
inserted docs sharing new terms (new terms with nb > 1, grown base
terms) and updates, then a batch deleting 150 of the 400 base docs
(shrunk hot terms) and re-updating some of the updated docs.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)
from content_rw_elasticsearch_spark.streaming.ingest import (
    apply_upserts,
    fold_deltas,
    merge_delta_tier,
)

BUILD = dict(n_buckets=3, target_block=64, nb_max=8)
ROWS = "doc_id long, content string, deleted boolean"
KINDS = ("plain", "positional", "fielded_positional")


def _fields():
    return {
        "title": F.concat_ws(
            " ", F.slice(F.split(F.col("content"), " "), 1, 5)),
        "body": F.col("content"),
    }


def _opts(kind):
    return {"with_positions": kind != "plain",
            **({"fields": _fields()} if kind.startswith("fielded") else {})}


def _corpus(spark):
    """(base rows, batch 1 rows, batch 2 rows) as python tuples."""
    base = sorted(
        (r["doc_id"], r["content"]) for r in
        with_doc_id(synthesize_corpus(spark, 400, seed=3))
        .select("doc_id", "content").collect())
    ids = [d for d, _c in base]
    # parsereturnresponse: a one-block base term (df 60) these push past
    # target_block
    inserted = [(10**12 + i, f"foldnew import return shared{i % 3} "
                 f"foldnew{i % 2} parsereturnresponse", False)
                for i in range(70)]
    updated = [(d, f"updated body {i} import self foldnew", False)
               for i, d in enumerate(ids[:10])]
    deleted = [(d, "", True) for d in ids[10:160]]
    reupdated = [(d, f"reupdated {i} return the", False)
                 for i, d in enumerate(ids[:5])]
    return base, inserted + updated, deleted + reupdated


def _final(base, *batches):
    """The corpus after the batches, last writer wins."""
    docs = dict(base)
    for batch in batches:
        for d, content, deleted in batch:
            if deleted:
                docs.pop(d, None)
            else:
                docs[d] = content
    return sorted(docs.items())


def _frame(spark, rows, schema=ROWS):
    return spark.createDataFrame(rows, schema)


def _segment_rows(path):
    """(term, salt) → every other column of the segment rows under path."""
    tab = pq.read_table(path)
    return {
        (r["term"], r["salt"]): tuple(r[c] for c in sorted(r) if c not in
                                      ("term", "salt"))
        for r in tab.to_pylist()
    }


def _nbs(path):
    return {r["term"]: r["nb"] for r in
            pq.read_table(path, columns=["term", "nb"]).to_pylist()}


@pytest.fixture(scope="module")
def corpus(spark):
    return _corpus(spark)


@pytest.fixture(scope="module")
def bases(spark, corpus, tmp_path_factory):
    """kind → a built base index to copy, and the fresh build of the
    final corpus."""
    base, b1, b2 = corpus
    root = tmp_path_factory.mktemp("compaction")
    out = {}
    for kind in KINDS:
        src, fresh = str(root / f"{kind}_base"), str(root / f"{kind}_fresh")
        build_segments(_frame(spark, base, "doc_id long, content string"),
                       src, **BUILD, **_opts(kind))
        build_segments(_frame(spark, _final(base, b1, b2),
                              "doc_id long, content string"),
                       fresh, **BUILD, **_opts(kind))
        out[kind] = (src, fresh)
    return out


def _copy(src, dst):
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def _upsert(spark, path, rows, kind):
    fields = _fields() if kind.startswith("fielded") else None
    return apply_upserts(spark, path, _frame(spark, rows), "content",
                         "doc_id", "deleted", fields=fields)


@pytest.mark.parametrize("tier_first", [False, True],
                         ids=["fold", "tier_fold"])
@pytest.mark.parametrize("kind", KINDS)
def test_fold_equals_fresh_build(spark, corpus, bases, tmp_path, kind,
                                 tier_first):
    _base, b1, b2 = corpus
    src, fresh = bases[kind]
    path = _copy(src, str(tmp_path / "idx"))
    _upsert(spark, path, b1, kind)
    _upsert(spark, path, b2, kind)
    if tier_first:
        assert merge_delta_tier(spark, path)["merged_from"] == [1, 2]
    m = fold_deltas(spark, path)
    got = _segment_rows(os.path.join(path, m["seg_dir"]))
    with open(os.path.join(fresh, "index.json")) as f:
        want_m = json.load(f)
    assert got == _segment_rows(os.path.join(fresh, "segments"))
    for key in ("n_docs", "avgdl", "posting_count", "field_stats"):
        assert m.get(key) == want_m.get(key), key
    # the fold re-blocked in every direction
    old = _nbs(os.path.join(src, "segments"))
    new = _nbs(os.path.join(path, m["seg_dir"]))
    assert any(new[t] > nb for t, nb in old.items() if t in new)
    assert any(new[t] < nb for t, nb in old.items() if t in new)
    assert any(nb > 1 for t, nb in new.items() if t not in old)
    assert set(old) - set(new)  # terms with no live posting are dropped


@pytest.mark.parametrize("kind", KINDS[:2])
def test_tier_merge_equals_one_batch(spark, corpus, bases, tmp_path, kind):
    _base, b1, b2 = corpus
    src, _fresh = bases[kind]
    merged = _copy(src, str(tmp_path / "merged"))
    _upsert(spark, merged, b1, kind)
    _upsert(spark, merged, b2, kind)
    gen = merge_delta_tier(spark, merged)["gen"]
    union = {d: (d, c, x) for d, c, x in b1 + b2}  # last writer wins
    one = _copy(src, str(tmp_path / "one"))
    assert _upsert(spark, one, list(union.values()), kind)["gen"] == 1

    def gen_dir(path, g, what):
        return os.path.join(path, "delta", f"gen={g}", what)

    assert _segment_rows(gen_dir(merged, gen, "segments")) \
        == _segment_rows(gen_dir(one, 1, "segments"))
    ids = [sorted(pq.read_table(gen_dir(p, g, "tombstones"))
                  .column("doc_id").to_pylist())
           for p, g in ((merged, gen), (one, 1))]
    assert ids[0] == ids[1] and len(ids[0]) == len(union)


# Spark jobs one positional call launches on these fixtures (local[4]),
# measured after block-level compaction (the posting-level pipeline they
# replaced launched 9 and 22); jobs the engine submits from its own
# driver threads carry no job group and are counted too
LIFECYCLE_JOBS = {"tier_merge": 5, "fold": 7}
_GROUPS = itertools.count()


def _jobs_launched(spark, call):
    """Spark jobs launched while ``call`` runs, its driver threads' too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"compaction-jobs-{next(_GROUPS)}"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "lifecycle job count")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(tracker.getJobIdsForGroup(group)) + len(
        set(tracker.getJobIdsForGroup(None)) - before)


@pytest.mark.parametrize("kind", sorted(LIFECYCLE_JOBS))
def test_lifecycle_job_counts(spark, corpus, bases, tmp_path, kind):
    _base, b1, b2 = corpus
    path = _copy(bases["positional"][0], str(tmp_path / "idx"))
    _upsert(spark, path, b1, "positional")
    _upsert(spark, path, b2, "positional")
    call = {"tier_merge": lambda: merge_delta_tier(spark, path),
            "fold": lambda: fold_deltas(spark, path)}[kind]
    assert _jobs_launched(spark, call) <= LIFECYCLE_JOBS[kind]
