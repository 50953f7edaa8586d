"""minimum_should_match (ES bool-should knob) and sloppy/proximity
phrase queries (ES match_phrase slop, ordered form).

Pinned against a brute-force pure-Python replay on hand corpora, plus
path-identity checks: logical plan == unpruned segment store == pruned
segment store (msm tightens the block-max feasibility lattice), and
slop=0 == the exact adjacency chain.
"""

from __future__ import annotations

import itertools
import math
import re

import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.engine import InMemoryIndex
from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex

BM25_K1, BM25_B = 1.2, 0.75

DOCS = [
    (1, "alpha beta gamma"),
    (2, "alpha stuff beta"),
    (3, "alpha one two beta"),
    (4, "beta alpha"),
    (5, "alpha alpha beta"),
    (6, "gamma delta"),
    (7, "alpha gamma"),
    (8, "beta delta epsilon"),
    (9, "delta"),
    (10, "alpha beta alpha beta"),
    # all three of alpha/beta/delta (msm=3 leg non-vacuous); token order
    # chosen so no ordered "alpha beta"/"beta alpha" window <= span 2
    # exists (keeps the pinned slop expectations below unchanged)
    (11, "delta beta zeta alpha"),
]


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _brute_msm(docs, terms, msm, k=10):
    """Pure-Python BM25 OR with min_should_match."""
    n_docs = len(docs)
    dls = {d: len(_toks(t)) for d, t in docs}
    avgdl = sum(dls.values()) / n_docs
    tf = {(d, w): _toks(t).count(w) for d, t in docs for w in set(terms)}
    df = {w: sum(1 for d, _ in docs if tf[(d, w)] > 0) for w in set(terms)}
    out = []
    for d, _ in docs:
        matched = [w for w in set(terms) if tf[(d, w)] > 0]
        if len(matched) < msm:
            continue
        s = sum(
            math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            * tf[(d, w)] * (BM25_K1 + 1)
            / (tf[(d, w)] + BM25_K1 * (1 - BM25_B + BM25_B * dls[d] / avgdl))
            for w in matched
        )
        out.append((d, round(s, 4)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _brute_slop(docs, terms, slop):
    """Ordered within-window tuple count: strictly increasing positions,
    one per term in order, last - first <= len(terms) - 1 + slop."""
    out = []
    n = len(terms)
    for d, t in docs:
        toks = _toks(t)
        positions = [[i for i, w in enumerate(toks) if w == q] for q in terms]
        cnt = 0
        for tup in itertools.product(*positions):
            if all(b > a for a, b in zip(tup, tup[1:])) \
                    and tup[-1] - tup[0] <= n - 1 + slop:
                cnt += 1
        if cnt:
            out.append((d, cnt))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").persist()


@pytest.fixture(scope="module")
def seg(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("msm") / "idx")
    build_segments(corpus, out, text_col="text", doc_col="doc_id",
                   n_buckets=2, target_block=8, nb_max=4,
                   with_positions=True)
    idx = SegmentIndex.load(spark, out)
    # force the TWO-PHASE pruned plan (the msm feasibility lattice):
    # at this corpus size prune=True would otherwise duck under the
    # crossover threshold and take the exhaustive branch
    idx.prune_min_postings = 0
    return idx


@pytest.mark.parametrize("msm", [2, 3])
def test_msm_logical_vs_brute(spark, corpus, msm):
    idx = InMemoryIndex.build(corpus, text_col="text", doc_col="doc_id")
    got = [(r["doc_id"], r["score"]) for r in
           idx.search("alpha beta delta", mode="OR",
                      min_should_match=msm).collect()]
    want = _brute_msm(DOCS, ["alpha", "beta", "delta"], msm)
    assert got == want and got  # non-vacuous
    idx.unpersist()


def test_msm_bounds(spark, corpus, seg):
    idx = InMemoryIndex.build(corpus, text_col="text", doc_col="doc_id")
    plain = [(r["doc_id"], r["score"]) for r in
             idx.search("alpha beta delta", mode="OR").collect()]
    # msm=1 and msm=None are plain OR
    got1 = [(r["doc_id"], r["score"]) for r in
            idx.search("alpha beta delta", mode="OR",
                       min_should_match=1).collect()]
    assert got1 == plain
    # msm == n_terms is AND
    got_and = [(r["doc_id"], r["score"]) for r in
               idx.search("alpha beta", mode="OR",
                          min_should_match=2).collect()]
    want_and = [(r["doc_id"], r["score"]) for r in
                idx.search("alpha beta", mode="AND").collect()]
    assert got_and == want_and and got_and
    # msm > matchable terms -> empty (segment path; 'zz' absent)
    assert seg.search("alpha zz", mode="OR", min_should_match=2,
                      prune=True).count() == 0
    idx.unpersist()


# Both executors against brute force: as routed (this corpus fits the
# driver executor) and with driver_max_postings = 0 (the same kernels per
# salt-class group on the distributed executor).

MSM = [2, 3]
SLOPS = [
    (0, "alpha beta"), (1, "alpha beta"), (2, "alpha beta"),
    (1, "alpha beta gamma"), (3, "alpha gamma"),
]


def _check_msm_paths(seg, msm):
    q = "alpha beta delta"
    want = _brute_msm(DOCS, q.split(), msm)
    for prune in (False, True):
        got = [(r["doc_id"], r["score"]) for r in
               seg.search(q, mode="OR", min_should_match=msm,
                          prune=prune).collect()]
        assert got == want, f"prune={prune}"


def _check_slop(seg, slop, phrase):
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           seg.phrase_search(phrase, slop=slop).collect()]
    want = _brute_slop(DOCS, phrase.split(), slop)
    assert got == want


@pytest.mark.parametrize("msm", MSM)
def test_msm_segment_paths_identical(spark, corpus, seg, msm):
    _check_msm_paths(seg, msm)


@pytest.mark.parametrize("msm", MSM)
def test_msm_segment_paths_identical_distributed(monkeypatch, seg, msm):
    monkeypatch.setattr(seg, "driver_max_postings", 0)
    _check_msm_paths(seg, msm)


@pytest.mark.parametrize("slop,phrase", SLOPS)
def test_slop_vs_brute(seg, slop, phrase):
    _check_slop(seg, slop, phrase)


@pytest.mark.parametrize("slop,phrase", SLOPS)
def test_slop_vs_brute_distributed(monkeypatch, seg, slop, phrase):
    monkeypatch.setattr(seg, "driver_max_postings", 0)
    _check_slop(seg, slop, phrase)


def test_slop_semantics_pinned(seg):
    # slop=0 is exact adjacency; reversed order NEVER matches
    assert [(r["doc_id"], r["phrase_tf"]) for r in
            seg.phrase_search("alpha beta", slop=0).collect()] == \
        [(1, 1), (5, 1), (10, 2)]
    # slop=1: doc2 (one interleaved token), doc5 gains the (0,2) tuple,
    # doc10 gains the (0,3) and (2,3)... wait (2,3) is adjacent already;
    # stretched tuple (0,3) has span 3 > 1+1 -> excluded at slop 1? span
    # 3 - 0 = 3 <= 1 + 1 = 2 is false -> excluded; (1,3)? pos1 is beta.
    # positions: alpha@0,2; beta@1,3 -> tuples (0,1),(0,3),(2,3); slop1
    # admits spans <= 2: (0,1),(2,3) only.
    assert [(r["doc_id"], r["phrase_tf"]) for r in
            seg.phrase_search("alpha beta", slop=1).collect()] == \
        [(1, 1), (2, 1), (5, 2), (10, 2)]
    # ordered: "beta alpha" at slop 0 = doc4 plus doc10's beta@1 alpha@2
    assert [(r["doc_id"], r["phrase_tf"]) for r in
            seg.phrase_search("beta alpha", slop=0).collect()] == \
        [(4, 1), (10, 1)]
    # at slop 2, doc10's beta@1 alpha@2 also matches
    got = dict((r["doc_id"], r["phrase_tf"]) for r in
               seg.phrase_search("beta alpha", slop=2).collect())
    assert got[4] == 1 and got[10] == 1
