"""Driver fast-path parity (round 6): the bounded pyarrow read + numpy
scoring path must return EXACTLY what the distributed plan returns, for
every branch of search() — exhaustive, forced-prune (θ-seed + keep
decode), AND/OR/msm, search_after cursors, and the empty corner — for
the scorers that share its BM25 kernel (synonyms, multi-field, bool,
match_ids, count), and for the phrase slot kernel behind phrase_search
(any slop) and phrase_prefix_search, including its volume guards. The
distributed twin is forced with driver_max_postings = 0."""

from __future__ import annotations

import itertools
import shutil

import numpy as np
import pytest

from content_rw_elasticsearch_spark.functions.hashing import (
    xxh64_long,
    xxh64_long_np,
)
from content_rw_elasticsearch_spark.operators.boolquery import (
    segment_bool_topk,
)
from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)

SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def seg_idx(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    out = "/tmp/test_fast_path_idx"
    shutil.rmtree(out, ignore_errors=True)
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=512, nb_max=64,
                   snapshot_id="fast-path-test")
    yield SegmentIndex.load(spark, out)
    shutil.rmtree(out, ignore_errors=True)


def _run(idx, q, mode, k, msm=None, after=None, prune=False, forced=False):
    saved = idx.prune_min_postings
    if forced:
        idx.prune_min_postings = 0
    try:
        return [
            (r["doc_id"], r["score"])
            for r in idx.search(q, k=k, mode=mode, prune=prune or forced,
                                min_should_match=msm, after=after).collect()
        ]
    finally:
        idx.prune_min_postings = saved


CASES = [
    ("hash join", "AND", 10, None),
    ("dup", "AND", 10, None),
    ("dup join", "AND", 10, None),
    ("vector batch scan", "OR", 10, None),
    ("merge sort window", "OR", 50, 2),
    ("join hash row scan small", "AND", 10, None),
    ("zzzabsent hash join", "AND", 10, None),
]


@pytest.mark.parametrize("q,mode,k,msm", CASES)
@pytest.mark.parametrize("forced", [False, True])
def test_fast_path_matches_distributed(seg_idx, q, mode, k, msm, forced):
    fast = _run(seg_idx, q, mode, k, msm=msm, forced=forced)
    seg_idx.driver_max_postings = 0
    try:
        slow = _run(seg_idx, q, mode, k, msm=msm, forced=forced)
    finally:
        seg_idx.driver_max_postings = 2_000_000
    assert fast == slow


# The other scorers over the segment store run the same BM25 kernel
# through its score groups (a synonym set sums its members' tfs) and
# match groups (must / should / not clauses, msm): top-k ones on either
# executor, match sets (match_ids, count) on the distributed one.
SYN = {"hash": ["join", "table"], "scan": ["vector"]}
SCORERS = {
    "syn_and": lambda ix: ix.search_synonyms("hash scan", SYN, k=10),
    "syn_or": lambda ix: ix.search_synonyms("hash scan zzzabsent", SYN,
                                            k=20, mode="OR"),
    "bool": lambda ix: segment_bool_topk(
        ix, must="hash", should="join row scan", must_not="dup", k=10),
    "bool_msm": lambda ix: segment_bool_topk(
        ix, should="hash join row scan", min_should_match=2, k=20),
    "match_ids": lambda ix: ix.match_ids("hash join").orderBy("doc_id"),
    "match_ids_msm": lambda ix: ix.match_ids(
        "vector batch scan", mode="OR", min_should_match=2).orderBy("doc_id"),
    "count": lambda ix: ix.count("vector batch scan", mode="OR"),
}


def _scorer_rows(idx, scorer):
    return [tuple(r) for r in SCORERS[scorer](idx).collect()]


@pytest.mark.parametrize("scorer", sorted(SCORERS))
def test_scorers_fast_path_matches_distributed(monkeypatch, seg_idx, scorer):
    fast = _scorer_rows(seg_idx, scorer)
    monkeypatch.setattr(seg_idx, "driver_max_postings", 0)
    assert fast == _scorer_rows(seg_idx, scorer) and fast


def test_fast_path_search_after_parity(seg_idx):
    p1 = _run(seg_idx, "vector batch scan", "OR", 5)
    after = (p1[-1][1], p1[-1][0])
    fast = _run(seg_idx, "vector batch scan", "OR", 5, after=after,
                forced=True)
    seg_idx.driver_max_postings = 0
    try:
        slow = _run(seg_idx, "vector batch scan", "OR", 5, after=after,
                    forced=True)
    finally:
        seg_idx.driver_max_postings = 2_000_000
    assert fast == slow
    # pages must tile the one-shot top-10 exactly
    assert p1 + fast == _run(seg_idx, "vector batch scan", "OR", 10)


def test_meta_local_matches_spark(seg_idx):
    terms = ["hash", "join", "scan"]
    local = seg_idx._meta(terms)
    # force the Spark metadata path by hiding the local dir
    saved = seg_idx.path
    try:
        spark_meta = (
            seg_idx._segments(terms)
            .select("term", "gen", "salt", "nb", "count", "max_tf",
                    "min_dl")
            .toPandas()
        )
    finally:
        seg_idx.path = saved
    key = ["term", "gen", "salt"]
    a = local.sort_values(key).reset_index(drop=True)
    b = spark_meta.sort_values(key).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_xxh64_long_np_parity():
    rng = np.random.default_rng(11)
    vals = np.concatenate([
        rng.integers(-2**63, 2**63 - 1, 500, dtype=np.int64),
        np.array([0, 1, -1, 2**63 - 1, -(2**63), 42], dtype=np.int64),
    ])
    vec = xxh64_long_np(vals)
    for i in range(len(vals)):
        assert int(vec[i]) == xxh64_long(int(vals[i]))


def test_rows_df_roundtrips_doubles(seg_idx):
    rows = [(1, 0.1), (2, 1e-07), (3, 12.3456), (4, 0.15)]
    got = [(r["doc_id"], r["score"])
           for r in seg_idx._rows_df(rows).collect()]
    assert got == rows
    schema = seg_idx._rows_df(rows).schema.simpleString()
    assert schema == "struct<doc_id:bigint,score:double>"


def test_empty_df_schema(seg_idx):
    e = seg_idx._empty_df("doc_id long, score double")
    assert e.collect() == []
    assert e.schema.simpleString() == "struct<doc_id:bigint,score:double>"


@pytest.fixture(scope="module")
def pos_idx(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    out = "/tmp/test_fast_path_pos_idx"
    shutil.rmtree(out, ignore_errors=True)
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=512, nb_max=64,
                   snapshot_id="fast-path-pos", with_positions=True)
    yield SegmentIndex.load(spark, out)
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("phrase", [
    "hash join", "customer data group", "customer", "zzzabsent join",
])
def test_phrase_fast_path_matches_distributed(pos_idx, phrase):
    def run():
        return [(r["doc_id"], r["phrase_tf"])
                for r in pos_idx.phrase_search(phrase).collect()]
    fast = run()
    pos_idx.driver_max_postings = 0
    try:
        slow = run()
    finally:
        pos_idx.driver_max_postings = 2_000_000
    assert fast == slow


def test_phrase_fast_path_within_classes(pos_idx):
    wc = [1, 5, 9, 33]

    def run():
        return [(r["doc_id"], r["phrase_tf"])
                for r in pos_idx.phrase_search("hash join",
                                               within_classes=wc).collect()]
    fast = run()
    pos_idx.driver_max_postings = 0
    try:
        slow = run()
    finally:
        pos_idx.driver_max_postings = 2_000_000
    assert fast == slow


# -- the phrase slot kernel over 63-bit doc ids ---------------------------
# with_doc_id ids are 63-bit hashes: before dense doc ordinals, the
# (doc_id * M + pos) packing overflowed on them and every phrase left the
# fast path, which the small sf0.01 ids above never showed.


@pytest.fixture(scope="module")
def hashed_pos_idx(spark):
    corpus = with_doc_id(synthesize_corpus(spark, 600, seed=7))
    out = "/tmp/test_fast_path_hashed_pos_idx"
    shutil.rmtree(out, ignore_errors=True)
    build_segments(corpus.select("doc_id", "content"), out,
                   text_col="content", doc_col="doc_id", n_buckets=4,
                   target_block=128, nb_max=64, snapshot_id="fast-path-63",
                   with_positions=True)
    yield SegmentIndex.load(spark, out)
    shutil.rmtree(out, ignore_errors=True)


def _phrase_rows(df):
    return [(r["doc_id"], r["phrase_tf"]) for r in df.collect()]


def _spy_kernel(monkeypatch, idx):
    """Record every return value of the instance's slot kernel."""
    seen = []
    kernel = idx._phrase_local

    def spy(*args):
        seen.append(kernel(*args))
        return seen[-1]
    monkeypatch.setattr(idx, "_phrase_local", spy)
    return seen


def _fast_and_distributed(monkeypatch, idx, call):
    """(fast-path rows, distributed-arm rows) of one phrase call. The
    fast call must be answered by the slot kernel, not a guard fallback."""
    seen = _spy_kernel(monkeypatch, idx)
    fast = _phrase_rows(call())
    assert None not in seen
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    slow = _phrase_rows(call())
    return fast, slow


@pytest.mark.parametrize("phrase,slop", [
    ("return self", 0),
    ("return self", 1),
    ("return self", 2),
    ("tokenizer posting longdoc", 0),
    ("import return self", 1),
    ("import return self", 2),
    ("return return", 0),
    ("return return", 2),
    ("zzzabsent return", 1),
    # a slop past every position: the kernel's key width must not grow
    # with it (ordinal * M would wrap int64 here)
    ("return self", 10**17),
])
def test_phrase_kernel_matches_distributed(monkeypatch, hashed_pos_idx,
                                           phrase, slop):
    fast, slow = _fast_and_distributed(
        monkeypatch, hashed_pos_idx,
        lambda: hashed_pos_idx.phrase_search(phrase, slop=slop))
    assert fast == slow
    assert fast or phrase.startswith("zzzabsent")
    assert fast == sorted(fast)


@pytest.mark.parametrize("phrase,max_expansions", [
    ("ret", 50),        # one token: occurrence counts of every expansion
    ("import re", 50),  # exact slot + prefix slot
    ("return t", 2),    # cap below the number of matching terms
])
def test_phrase_prefix_kernel_matches_distributed(monkeypatch, hashed_pos_idx,
                                                  phrase, max_expansions):
    last = phrase.split()[-1]
    if max_expansions == 2:
        assert len(hashed_pos_idx._prefix_expansions_local(last, 100)) > 2
    fast, slow = _fast_and_distributed(
        monkeypatch, hashed_pos_idx,
        lambda: hashed_pos_idx.phrase_prefix_search(
            phrase, max_expansions=max_expansions))
    assert fast == slow and fast


def test_phrase_kernel_within_classes_slop(monkeypatch, hashed_pos_idx):
    wc = [1, 5, 9, 33]
    fast, slow = _fast_and_distributed(
        monkeypatch, hashed_pos_idx,
        lambda: hashed_pos_idx.phrase_search("return self", slop=1,
                                             within_classes=wc))
    assert fast == slow and fast
    cls = xxh64_long_np(np.array([d for d, _ in fast])) % 64
    assert set(cls.tolist()) <= set(wc)


_JOB_GROUPS = itertools.count()


def _jobs_launched(spark, call):
    """Spark jobs launched while ``call`` runs."""
    sc = spark.sparkContext
    group = f"fast-path-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "fast-path job count")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_phrase_fast_path_launches_no_spark_jobs(spark, hashed_pos_idx):
    """Building the answer launches no job; these answers (< 600 rows)
    are VALUES literals, so collecting them launches none either."""
    idx = hashed_pos_idx
    for call in (lambda: idx.phrase_search("return self"),
                 lambda: idx.phrase_search("import return self", slop=2),
                 lambda: idx.phrase_prefix_search("ret"),
                 lambda: idx.phrase_prefix_search("import re")):
        call().collect()  # warm
        assert _jobs_launched(spark, call) == 0
        assert _jobs_launched(spark, lambda: call().collect()) == 0


@pytest.mark.parametrize("phrase,slop,bound", [
    # "return" and "self" average ~11 and ~6.5 positions per posting:
    # their ~1.2k postings admit under a bound of 1,500, their ~10k
    # positions exceed 4 x 1,500
    ("return self", 0, 1_500),
    # 591 postings and ~6.5k positions fit under 2,000 and 4 x 2,000;
    # the ~12k slop-12 pairs after slot 1 do not
    ("return return return", 12, 2_000),
])
def test_phrase_kernel_guard_falls_back(monkeypatch, hashed_pos_idx,
                                        phrase, slop, bound):
    idx = hashed_pos_idx
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    want = _phrase_rows(idx.phrase_search(phrase, slop=slop))
    seen = _spy_kernel(monkeypatch, idx)
    monkeypatch.setattr(idx, "driver_max_postings", bound)
    got = _phrase_rows(idx.phrase_search(phrase, slop=slop))
    assert seen == [None]  # admitted, then the guard handed it back
    assert got == want and got


# -- delta generations on the fast path -----------------------------------
# An index with committed apply_upserts generations is answered in the
# driver like a base-only one: pyarrow reads of base + delta segment dirs,
# and the tombstone rule (a posting of generation g dies when its doc has
# a tombstone of a later generation) as a numpy cut. Three handles cover
# the delta states a reader can load: both generations live, as_of_gen=1
# time travel, and the two generations squashed by merge_delta_tier.

DELTA_ONLY = "zzqdeltaonly"  # a term no base document holds
DELTA_STATES = ["latest", "as_of_1", "merged"]


@pytest.fixture(scope="module")
def delta_idx(spark):
    from content_rw_elasticsearch_spark.streaming import ingest

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    out = "/tmp/test_fast_path_delta_idx"
    merged = out + "_merged"
    for d in (out, merged):
        shutil.rmtree(d, ignore_errors=True)
    build_segments(docs, out, text_col="text", doc_col="doc_id",
                   n_buckets=4, target_block=512, nb_max=64,
                   snapshot_id="fast-path-delta", with_positions=True)
    top, dropped, reupd = [r["doc_id"] for r in SegmentIndex.load(
        spark, out).search("hash join", k=3).collect()]

    def upsert(rows):
        ingest.apply_upserts(
            spark, out,
            spark.createDataFrame(
                rows, "doc_id long, content string, deleted boolean"),
            "content", "doc_id", "deleted")

    # gen 1: the second "hash join" hit loses "join"; three inserts, one
    # holding the delta-only term
    upsert([
        (dropped, "hash table probe value key", False),
        (1001, "hash join hash join merge sort window", False),
        (1002, f"vector batch scan hash {DELTA_ONLY} join", False),
        (1003, "join hash row scan small dup customer data group", False),
    ])
    # gen 2: the top hit is deleted, a gen-1 insert and a base doc are
    # re-written, and one more insert extends the delta-only prefix
    upsert([
        (top, "", True),
        (1001, "hash join window hash merge", False),
        (reupd, "customer data group hash join hash join", False),
        (1004, f"hash {DELTA_ONLY}s vector batch", False),
    ])
    shutil.copytree(out, merged)
    ingest.merge_delta_tier(spark, merged)
    yield {
        "latest": SegmentIndex.load(spark, out),
        "as_of_1": SegmentIndex.load(spark, out, as_of_gen=1),
        "merged": SegmentIndex.load(spark, merged),
        "hits": (top, dropped),
    }
    for d in (out, merged):
        shutil.rmtree(d, ignore_errors=True)


def test_delta_fixture_shape(delta_idx):
    """The fixture holds what the parity matrix needs: live generations
    in every state, the deleted top hit and the updated doc that lost a
    query term both gone, and a prefix expansion no base term has."""
    import dataclasses

    top, dropped = delta_idx["hits"]
    assert delta_idx["latest"].generations == [1, 2]
    assert delta_idx["as_of_1"].generations == [1]
    assert delta_idx["merged"].generations == [3]
    for state in DELTA_STATES:
        idx = delta_idx[state]
        hits = [d for d, _ in _run(idx, "hash join", "AND", 10)]
        assert dropped not in hits
        assert (top in hits) == (state == "as_of_1"), state
        assert DELTA_ONLY in idx._prefix_expansions_local("zzqd", 50)
    base = dataclasses.replace(delta_idx["latest"], generations=[])
    assert base._prefix_expansions_local("zzqd", 50) == []
    assert [d for d, _ in _run(base, "hash join", "AND", 2)] == [top, dropped]


@pytest.mark.parametrize("state", DELTA_STATES)
@pytest.mark.parametrize("q,mode,k,msm", CASES)
@pytest.mark.parametrize("forced", [False, True])
def test_delta_fast_path_matches_distributed(monkeypatch, delta_idx, state,
                                             q, mode, k, msm, forced):
    idx = delta_idx[state]
    fast = _run(idx, q, mode, k, msm=msm, forced=forced)
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    assert fast == _run(idx, q, mode, k, msm=msm, forced=forced)


@pytest.mark.parametrize("state", DELTA_STATES)
@pytest.mark.parametrize("scorer", sorted(SCORERS))
def test_delta_scorers_fast_path_matches_distributed(monkeypatch, delta_idx,
                                                     state, scorer):
    idx = delta_idx[state]
    fast = _scorer_rows(idx, scorer)
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    assert fast == _scorer_rows(idx, scorer) and fast


@pytest.mark.parametrize("state", DELTA_STATES)
@pytest.mark.parametrize("dmp", [2_000_000, 0])
def test_delta_scorer_corners_match_search(monkeypatch, delta_idx, state,
                                           dmp):
    """The bool, synonym and match-set corners equal search() on every
    delta state and executor: must-only is AND, should-only is OR, an
    empty synonym map is the plain query, must_not removes exactly the
    docs matching the excluded term, and match_ids / count are the
    exhaustive search's doc set."""
    idx = delta_idx[state]
    monkeypatch.setattr(idx, "driver_max_postings", dmp)
    top, dropped = delta_idx["hits"]

    def rows(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    and_q = _run(idx, "hash join", "AND", 10)
    or_q = _run(idx, "hash join window", "OR", 10)
    assert rows(segment_bool_topk(idx, must="hash join")) == and_q
    assert rows(segment_bool_topk(idx, should="hash join window")) == or_q
    assert rows(idx.search_synonyms("hash join", {}, k=10)) == and_q
    everything = _run(idx, "hash join", "AND", 10_000)
    with_dup = {r["doc_id"] for r in idx.match_ids("dup").collect()}
    assert with_dup & {d for d, _ in everything}  # insert 1003 has both
    assert rows(segment_bool_topk(idx, must="hash join", must_not="dup",
                                  k=10_000)) == [
        (d, s) for d, s in everything if d not in with_dup]
    ids = sorted(r["doc_id"] for r in idx.match_ids("hash join").collect())
    assert ids == sorted(d for d, _ in everything)
    assert dropped not in ids and (top in ids) == (state == "as_of_1")
    assert idx.count("hash join").collect()[0]["count"] == len(ids)


@pytest.mark.parametrize("state", DELTA_STATES)
def test_delta_search_after_parity(monkeypatch, delta_idx, state):
    idx = delta_idx[state]
    p1 = _run(idx, "hash join", "OR", 5)
    after = (p1[-1][1], p1[-1][0])
    fast = _run(idx, "hash join", "OR", 5, after=after, forced=True)
    assert p1 + fast == _run(idx, "hash join", "OR", 10)
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    assert fast == _run(idx, "hash join", "OR", 5, after=after, forced=True)


@pytest.mark.parametrize("state", DELTA_STATES)
@pytest.mark.parametrize("phrase", ["hash join", "customer data group"])
@pytest.mark.parametrize("slop", [0, 1, 2])
def test_delta_phrase_kernel_matches_distributed(monkeypatch, delta_idx,
                                                 state, phrase, slop):
    idx = delta_idx[state]
    fast, slow = _fast_and_distributed(
        monkeypatch, idx, lambda: idx.phrase_search(phrase, slop=slop))
    assert fast == slow and fast


@pytest.mark.parametrize("state", DELTA_STATES)
def test_delta_phrase_kernel_within_classes(monkeypatch, delta_idx, state):
    idx = delta_idx[state]
    wc = [1, 5, 9, 33]
    fast, slow = _fast_and_distributed(
        monkeypatch, idx,
        lambda: idx.phrase_search("hash join", within_classes=wc))
    assert fast == slow


@pytest.mark.parametrize("state", DELTA_STATES)
def test_delta_phrase_prefix_matches_distributed(monkeypatch, delta_idx,
                                                 state):
    """The expansion slot holds terms only a delta generation has."""
    idx = delta_idx[state]
    fast, slow = _fast_and_distributed(
        monkeypatch, idx, lambda: idx.phrase_prefix_search("hash zzqd"))
    assert fast == slow and fast


@pytest.mark.parametrize("state", DELTA_STATES)
def test_delta_meta_local_matches_spark(delta_idx, state):
    idx = delta_idx[state]
    terms = ["hash", "join", "scan", DELTA_ONLY]
    local = idx._meta(terms)
    spark_meta = (
        idx._segments(terms)
        .select("term", "gen", "salt", "nb", "count", "max_tf", "min_dl")
        .toPandas()
    )
    assert set(local["gen"]) == {0, *idx.generations}
    key = ["term", "gen", "salt"]
    a = local.sort_values(key).reset_index(drop=True)
    b = spark_meta.sort_values(key).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert list(a.dtypes) == list(b.dtypes)
    for c in a.columns:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


@pytest.mark.parametrize("state", DELTA_STATES)
def test_delta_fast_path_launches_no_spark_jobs(spark, delta_idx, state):
    idx = delta_idx[state]
    for call in (lambda: idx.search("hash join"),
                 lambda: idx.search("vector batch scan", mode="OR"),
                 lambda: idx.phrase_search("hash join"),
                 lambda: idx.phrase_prefix_search("hash zzqd"),
                 *(lambda s=s: SCORERS[s](idx)
                   for s in ("syn_and", "syn_or", "bool", "bool_msm"))):
        call().collect()  # warm
        assert _jobs_launched(spark, call) == 0
        assert _jobs_launched(spark, lambda: call().collect()) == 0


def test_delta_delete_only_generation(monkeypatch, spark, tmp_path):
    """A delete-only batch writes a generation with tombstones but no
    segment rows (no bucket dirs): the fast path reads it like any other
    generation, including the prefix expansion's term scan."""
    from content_rw_elasticsearch_spark.streaming import ingest

    out = str(tmp_path / "delete_only")
    corpus = with_doc_id(synthesize_corpus(spark, 200, seed=5))
    build_segments(corpus.select("doc_id", "content"), out,
                   text_col="content", doc_col="doc_id", n_buckets=4,
                   target_block=64, nb_max=16, with_positions=True)
    idx = SegmentIndex.load(spark, out)
    victim = _phrase_rows(idx.phrase_prefix_search("return se"))[0][0]
    ingest.apply_upserts(spark, out, spark.createDataFrame(
        [(victim, "", True)], "doc_id long, content string, deleted boolean"),
        "content", "doc_id", "deleted")
    idx = SegmentIndex.load(spark, out)
    assert idx.generations == [1]
    fast, slow = _fast_and_distributed(
        monkeypatch, idx, lambda: idx.phrase_prefix_search("return se"))
    assert fast == slow and fast and victim not in dict(fast)
    monkeypatch.setattr(idx, "driver_max_postings", 2_000_000)
    assert victim not in dict(_run(idx, "return self", "OR", 1000))


MULTI_W = {"title": 2.0, "body": 1.0}
FRESH = 9_999_999_301  # an insert with both query terms in its title


@pytest.fixture(scope="module")
def fielded_delta_idx(spark, sf_smoke, tmp_path_factory):
    """A fielded index (title = the first 5 tokens, body = the text)
    with one apply_upserts generation: the top multi-field "hash join"
    hit re-written without "join", the second hit deleted, and one
    insert."""
    from pyspark.sql import functions as F

    from content_rw_elasticsearch_spark.streaming import ingest

    def fields():
        return {"title": F.concat_ws(" ", F.slice(
                    F.split(F.col("text"), " "), 1, 5)),
                "body": F.col("text")}

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = str(tmp_path_factory.mktemp("fielded_delta") / "idx")
    build_segments(docs, out, doc_col="doc_id", analyzer="simple",
                   n_buckets=4, target_block=64, nb_max=16, fields=fields())
    hits = [r["doc_id"] for r in SegmentIndex.load(spark, out).search_multi(
        "hash join", MULTI_W, k=2).collect()]
    ingest.apply_upserts(spark, out, spark.createDataFrame(
        [(hits[0], "hash table probe " + "filler " * 20, False),
         (FRESH, "hash join fresh insert", False),
         (hits[1], "", True)],
        "doc_id long, text string, deleted boolean"),
        "text", "doc_id", "deleted", fields=fields())
    return SegmentIndex.load(spark, out), hits


@pytest.mark.parametrize("mode", ["AND", "OR"])
def test_fielded_delta_multi_matches_distributed(monkeypatch, spark,
                                                 fielded_delta_idx, mode):
    """search_multi over a live delta generation: the routed call runs
    on the driver (no Spark job), answers like the distributed executor,
    applies the tombstones, and with one field at weight 1.0 is that
    field's search() on both executors."""
    idx, (updated, deleted) = fielded_delta_idx
    assert idx.generations == [1]

    def multi(weights):
        return [(r["doc_id"], r["score"]) for r in idx.search_multi(
            "hash join", weights, k=1000, mode=mode).collect()]

    def fielded(f):
        return [(r["doc_id"], r["score"]) for r in idx.search(
            "hash join", field=f, k=1000, mode=mode, prune=False).collect()]

    fast = multi(MULTI_W)
    assert _jobs_launched(spark, lambda: multi(MULTI_W)) == 0
    assert FRESH in dict(fast) and deleted not in dict(fast)
    assert (updated in dict(fast)) == (mode == "OR")
    for f in ("title", "body"):
        assert multi({f: 1.0}) == fielded(f)
    monkeypatch.setattr(idx, "driver_max_postings", 0)
    assert multi(MULTI_W) == fast
    for f in ("title", "body"):
        assert multi({f: 1.0}) == fielded(f)


# -- the distributed executor ---------------------------------------------
# With driver_max_postings = 0 every query runs the same numpy kernels as
# the fast path, once per salt-class group in one groupBy(grp).
# applyInPandas; block metadata and prefix expansions of a local index
# are still pyarrow reads. Job bounds are the counts measured on these
# fixtures (local[4]); each call runs once to warm up first.

def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_distributed_phrase_plan_is_one_grouped_kernel(monkeypatch,
                                                       hashed_pos_idx):
    monkeypatch.setattr(hashed_pos_idx, "driver_max_postings", 0)
    plan = _executed(hashed_pos_idx.phrase_search("return self", slop=1))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize("kind,bound", [
    ("exhaustive", 2), ("pruned", 4), ("phrase0", 3), ("phrase1", 3),
    ("phrase_prefix", 3), ("synonyms", 2), ("bool", 2), ("match_ids", 2),
])
def test_distributed_arm_job_counts(monkeypatch, spark, seg_idx,
                                    hashed_pos_idx, kind, bound):
    monkeypatch.setattr(seg_idx, "driver_max_postings", 0)
    monkeypatch.setattr(hashed_pos_idx, "driver_max_postings", 0)
    if kind == "pruned":
        monkeypatch.setattr(seg_idx, "prune_min_postings", 0)
    call = {
        "exhaustive": lambda: seg_idx.search(
            "hash join", k=10, prune=False).collect(),
        "pruned": lambda: seg_idx.search("hash join", k=10).collect(),
        "phrase0": lambda: hashed_pos_idx.phrase_search(
            "return self").collect(),
        "phrase1": lambda: hashed_pos_idx.phrase_search(
            "return self", slop=1).collect(),
        "phrase_prefix": lambda: hashed_pos_idx.phrase_prefix_search(
            "import re").collect(),
        "synonyms": lambda: SCORERS["syn_and"](seg_idx).collect(),
        "bool": lambda: SCORERS["bool"](seg_idx).collect(),
        "match_ids": lambda: seg_idx.match_ids("hash join").collect(),
    }[kind]
    call()
    assert _jobs_launched(spark, call) <= bound


# Spark jobs of the materialized-window rescore below when its classes
# came from a Spark distinct+collect
RESCORE_WINDOW_JOBS = 8


def test_rescore_window_classes_cost_no_job(monkeypatch, spark,
                                            hashed_pos_idx):
    """The materialized-window rescore derives the window's salt classes
    on the driver: one job fewer than the Spark distinct+collect it
    replaced, and the same answer as the lazy-window branch."""
    idx = hashed_pos_idx

    def call():
        return [(r["doc_id"], r["score"]) for r in idx.rescore(
            "return self", "return self", k=5, window_size=8).collect()]

    lazy = call()
    monkeypatch.setattr(idx, "pos_classes_min_docs", 0)
    assert call() == lazy and lazy
    assert _jobs_launched(spark, call) <= RESCORE_WINDOW_JOBS - 1
