"""ES bool-query composition: must / should / must_not /
minimum_should_match in ONE scored plan.

The reference's consumers express everything through the ES bool query
(its referenceSchema fields exist to be matched by bool clauses); the
engine's primitives — AND (mode), OR, NOT (not_terms), msm — are the
corners of this operator. Semantics follow ES:

  * a doc matches iff ALL must terms are present, NO must_not term is
    present, and at least ``minimum_should_match`` should terms are
    present — msm defaulting to 0 when must clauses exist, else 1;
  * score = the BM25 sum over the matched must + should terms
    (must_not never contributes; should terms present add score even
    when must alone decides the match).

Scale shape: bool_topk (the InMemoryIndex-shaped reference) is one
per-doc aggregate with conditional counts over the postings frame.
segment_bool_topk runs the segment store's one BM25 kernel
(wand._bm25_kernel) over must ∪ should ∪ must_not blocks, each term its
own match group: on the driver for a local index under
driver_max_postings (no Spark job), else once per salt-class group in
one groupBy(grp).applyInPandas — the executor SegmentIndex.search uses.
The must_not exclusion is a per-doc group count inside the kernel, not
an anti-join pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import analyze_query_py
from .bm25 import ROUND_DECIMALS, bm25_partial_col


def _term_sets(must: str, should: str, must_not: str, analyzer: str):
    m = sorted(set(analyze_query_py(must, analyzer)))
    s = sorted(set(analyze_query_py(should, analyzer)) - set(m))
    n = sorted(set(analyze_query_py(must_not, analyzer)) - set(m) - set(s))
    return m, s, n


def bool_topk(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
    min_should_match: int | None = None,
    analyzer: str = "simple",
) -> DataFrame:
    """Logical-plan bool query over (term, doc_id, tf, doc_len) postings
    + (term, df) stats — the InMemoryIndex-shaped variant."""
    m, s, n = _term_sets(must, should, must_not, analyzer)
    spark = postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not m and not s:
        return empty
    msm = (0 if m else 1) if min_should_match is None else int(min_should_match)
    if msm > len(s):
        return empty
    all_terms = sorted(set(m) | set(s) | set(n))
    qstats = stats.filter(F.col("term").isin(all_terms))
    cand = postings.filter(F.col("term").isin(all_terms)).join(
        F.broadcast(qstats), "term"
    )
    partial = bm25_partial_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"),
        F.col("df").cast("double"), n_docs, avgdl,
    )
    scoring = F.when(F.col("term").isin(m + s), partial).otherwise(F.lit(0.0))
    in_set = lambda ts: F.when(  # noqa: E731 (tiny local combinator)
        F.col("term").isin(ts), F.lit(1)).otherwise(F.lit(0))
    scored = (
        cand.select("doc_id", scoring.alias("partial"),
                    in_set(m).alias("im"), in_set(s).alias("is_"),
                    in_set(n).alias("in_"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("raw"),
             F.sum("im").alias("n_must"),
             F.sum("is_").alias("n_should"),
             F.sum("in_").alias("n_not"))
        .filter((F.col("n_must") == len(m)) & (F.col("n_not") == 0)
                & (F.col("n_should") >= msm))
    )
    return (
        scored.select("doc_id",
                      F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def segment_bool_topk(
    index,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
    min_should_match: int | None = None,
    field: str | None = None,
) -> DataFrame:
    """Bool query over the persisted segment store (a SegmentIndex): each
    present term is its own match group — must, should or not — scored
    by the index's BM25 kernel on the executor search() uses (driver or
    salt-class groups), exhaustively. df is Lucene-faithful approximate
    (superseded postings counted until fold), matching
    SegmentIndex.search. On a fielded index ``field`` scopes every clause
    to that field's composite keys and norms."""
    empty = index._empty_df("doc_id long, score double")
    fprefix, n_docs, avgdl = index._resolve_field(field)
    if n_docs == 0:
        return empty
    m, s, n = _term_sets(must, should, must_not, index.analyzer)
    m = [fprefix + t for t in m]
    s = [fprefix + t for t in s]
    n = [fprefix + t for t in n]
    if not m and not s:
        return empty
    msm = (0 if m else 1) if min_should_match is None else int(min_should_match)
    all_terms = sorted(set(m) | set(s) | set(n))
    meta = index._meta(all_terms)
    found = set() if meta.empty else set(meta["term"].unique())
    if set(m) - found:
        return empty  # a required term is absent from the corpus
    if msm > len(set(s) & found):
        return empty
    if not found:
        return empty
    term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
    clauses = {t: c for c, ts in (("must", m), ("should", s), ("not", n))
               for t in ts if t in found}
    groups = index._term_groups(clauses, term_df, n_docs, avgdl)
    return index._as_df(index._bm25(meta, groups, msm, k))
