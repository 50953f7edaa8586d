"""BM25 top-k scoring as declarative DataFrame plans.

From-scratch replacement for the relevance scoring the reference delegates
to Elasticsearch/Lucene (SURVEY.md §2.J). Formula pinned by BASELINE.json:

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene variant,
                                                            always ≥ 0)
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    k1 = 1.2, b = 0.75

Query modes (reference analog: ES bool query over the `_all` field):
    AND — posting-list intersection = equi-join of per-term postings on
          doc_id, expressed as groupBy(doc_id) + HAVING count = |terms|
          (one shuffle instead of |terms|−1 pairwise joins).
    OR  — union = same aggregation without the HAVING.
    NOT — left_anti join before the top-k cut (``not_terms`` parameter).

Physical shape, and why it scales:
  * per-query term stats are a |q|-row DataFrame → explicit broadcast join;
    the postings side is filtered to the query terms BEFORE any shuffle, so
    partition pruning / predicate pushdown (term is the index sort/partition
    key in the segment store) reduces the scan to the touched terms only.
  * top-k is orderBy(desc(score), doc_id).limit(k) → Spark plans
    TakeOrderedAndProject: per-partition heap of size k, driver merge of
    #partitions·k rows. No global sort.
  * scores are rounded (ROUND_DECIMALS) and ties broken by doc_id so results
    are rank-identical across partition layouts, engines, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..functions.analyzer import analyze_query_py

ROUND_DECIMALS = 4


def idf_col(df_col, n_docs: int):
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def bm25_partial_col(tf_col, dl_col, df_col, n_docs: int, avgdl: float,
                     k1: float = BM25_K1, b: float = BM25_B):
    """Per-(term, doc) partial score — a pure columnar expression
    (whole-stage codegen) for the DataFrame scorers over postings frames
    (bm25_topk, bool_topk, FieldedIndex, explain). Every SegmentIndex
    scorer — search, synonyms, multi-field, bool, match sets — runs the
    numpy kernel of operators/wand.py instead."""
    denom = tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col / F.lit(avgdl))
    return idf_col(df_col, n_docs) * (tf_col * F.lit(k1 + 1.0)) / denom


def bm25_topk(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    k: int = 10,
    mode: str = "AND",
    analyzer: str = "simple",
    not_terms: list[str] | None = None,
    min_should_match: int | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for one query over a (term, doc_id, tf, doc_len)
    postings DataFrame. `stats` is the (term, df) table. ``not_terms``
    excludes docs containing any of them (left_anti set difference,
    SURVEY.md §2.G) BEFORE the top-k cut, so the result still fills k.
    ``min_should_match`` (OR mode; the ES bool-query knob of the same
    name) keeps only docs matching at least that many distinct query
    terms — AND is the msm == len(terms) corner, plain OR is msm == 1.

    Output schema: (doc_id, score) with score rounded to ROUND_DECIMALS,
    ordered by (score desc, doc_id asc) — deterministic, oracle-comparable.
    """
    terms = sorted(set(analyze_query_py(query, analyzer)))
    if not terms:
        return postings.sparkSession.createDataFrame([], "doc_id long, score double")

    qstats = stats.filter(F.col("term").isin(terms))
    cand = postings.filter(F.col("term").isin(terms)).join(
        F.broadcast(qstats), "term"
    )
    partial = bm25_partial_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"),
        F.col("df").cast("double"), n_docs, avgdl,
    )
    scored = (
        cand.select("doc_id", partial.alias("partial"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("raw"), F.count(F.lit(1)).alias("nterms"))
    )
    if mode.upper() == "AND":
        scored = scored.filter(F.col("nterms") == len(terms))
    elif min_should_match is not None:
        scored = scored.filter(F.col("nterms") >= int(min_should_match))
    if not_terms:
        neg = postings.filter(
            F.col("term").isin(sorted(set(not_terms)))
        ).select("doc_id").distinct()
        scored = scored.join(neg, "doc_id", "left_anti")
    return (
        scored.select("doc_id", F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
