"""Search-surface extensions: more_like_this and field collapsing.

Two more pieces of the Elasticsearch query API the reference delegates
wholesale (its own code never issues queries — SAPI does, against the
schema in /root/reference/configs/referenceSchema.json), rebuilt here as
declarative DataFrame plans over the same (term, doc_id, tf, doc_len)
postings + (term, df) stats tables every other query path uses
(SURVEY.md §2.K).

more_like_this (ES `more_like_this` query)
  1. term selection: the source doc's terms ranked by tf·idf (the same
     Lucene idf the scorer uses), filtered by min_term_freq/min_doc_freq
     and cut to max_query_terms — exactly ES's "interesting terms"
     heuristic. The selection plan touches ONE doc's postings (a ≤doc_len
     row slice, broadcast into the stats join), and the resulting term
     list is collected driver-side — bounded by max_query_terms (default
     25), the same bounded-collect discipline as the WAND θ-seed.
  2. query: plain OR BM25 over the selected terms, source doc excluded
     before the top-k cut so the result still fills k.

collapse_topk (ES `collapse` on a field)
  Best hit per group (e.g. per repo / per lang), groups ranked by their
  best score. NOT a window function: a window over hits partitioned by
  the group column shuffles every hit row and concentrates hot groups on
  single tasks. Instead the per-group argmax is ONE hash aggregation —
  max over (score, -doc_id) packed into one decimal — which
  partial-aggregates map-side (each task emits ≤ #groups rows), so a
  10^9-hit, 10^3-group collapse shuffles ~#tasks·#groups tiny rows. The
  packed max gives (max score, then min doc_id) — the engine-wide
  deterministic tie-break. Scores are rounded BEFORE the argmax so group winners are
  chosen from the same values the oracle compares.

Both emit (…, doc_id, score) rounded/ordered rank-identically to the
DuckDB oracles in oracle.more_like_this_sql / oracle.collapse_topk_sql.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bm25 import ROUND_DECIMALS, bm25_partial_col, idf_col

# selection weights are rounded before ranking so Spark and the SQL
# oracle cut the same max_query_terms set even when two terms' raw
# tf·idf differ only in float noise
_SEL_ROUND = 6


def mlt_select_terms(
    postings: DataFrame,
    n_docs: int,
    doc_id: int,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> DataFrame:
    """The MLT "interesting terms" plan: (term, weight) for the source
    doc, ranked by tf·idf desc (term asc tie-break), cut to
    max_query_terms. df comes from the full stats table via a broadcast
    of the tiny source-doc slice, NOT a scan-side join of stats."""
    src = postings.filter(F.col("doc_id") == int(doc_id)).select("term", "tf")
    # df for exactly the source doc's terms: broadcast the ≤doc_len-term
    # slice into the postings scan (term is the pruning key).
    df_tbl = (
        postings.join(F.broadcast(src.select("term")), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = F.col("tf").cast("double") * idf_col(F.col("df").cast("double"), n_docs)
    return (
        src.join(df_tbl, "term")
        .filter((F.col("tf") >= int(min_term_freq)) & (F.col("df") >= int(min_doc_freq)))
        .select("term", F.round(w, _SEL_ROUND).alias("weight"))
        .orderBy(F.desc("weight"), F.asc("term"))
        .limit(int(max_query_terms))
    )


def _scored_or(postings: DataFrame, stats: DataFrame, n_docs: int,
               avgdl: float, terms: list[str]) -> DataFrame:
    """(doc_id, raw) OR-mode BM25 scores for a term list — the shared
    scoring kernel (same plan shape as bm25.bm25_topk: broadcast |q|-row
    stats, term-pruned postings scan, one hash aggregation)."""
    qstats = stats.filter(F.col("term").isin(terms))
    cand = postings.filter(F.col("term").isin(terms)).join(
        F.broadcast(qstats), "term"
    )
    partial = bm25_partial_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"),
        F.col("df").cast("double"), n_docs, avgdl,
    )
    return (
        cand.select("doc_id", partial.alias("partial"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("raw"))
    )


def more_like_this(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> DataFrame:
    """ES more_like_this: top-k (doc_id, score) docs most similar to
    ``doc_id``, excluding it. Returns empty (same schema) when the doc
    has no selectable terms."""
    sel = mlt_select_terms(
        postings, n_docs, doc_id,
        max_query_terms=max_query_terms,
        min_term_freq=min_term_freq,
        min_doc_freq=min_doc_freq,
    ).collect()  # bounded: ≤ max_query_terms rows
    terms = sorted(r["term"] for r in sel)
    if not terms:
        return postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_or(postings, stats, n_docs, avgdl, terms)
    return (
        scored.filter(F.col("doc_id") != int(doc_id))
        .select("doc_id", F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def explain_score(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    doc_id: int,
    analyzer: str = "simple",
) -> DataFrame:
    """The ES explain API: the per-term BM25 breakdown of one document's
    score for a query. One row per query term present in the doc —
    (term, tf, df, doc_len, idf, partial) — plus the idf/partial the
    scorer actually sums (rounded like every other gate). The plan
    touches the query terms' postings filtered to ONE doc_id (term is
    the pruning key; the doc filter collapses it to ≤|q| rows) joined to
    the broadcast |q|-row stats — no aggregation, no full decode."""
    from ..functions.analyzer import analyze_query_py

    terms = sorted(set(analyze_query_py(query, analyzer)))
    schema = ("term string, tf long, df long, doc_len long, "
              "idf double, partial double")
    if not terms:
        return postings.sparkSession.createDataFrame([], schema)
    qstats = stats.filter(F.col("term").isin(terms))
    rows = (
        postings.filter(F.col("term").isin(terms)
                        & (F.col("doc_id") == int(doc_id)))
        .join(F.broadcast(qstats), "term")
    )
    partial = bm25_partial_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"),
        F.col("df").cast("double"), n_docs, avgdl,
    )
    return (
        rows.select(
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("doc_len").cast("long").alias("doc_len"),
            F.round(idf_col(F.col("df").cast("double"), n_docs),
                    ROUND_DECIMALS).alias("idf"),
            F.round(partial, ROUND_DECIMALS).alias("partial"),
        )
        .orderBy("term")
    )


def explain_score_sql(query: str, doc_id: int,
                      analyzer: str = "simple") -> str:
    """DuckDB oracle for explain_score (same tokenize CTE as every other
    gate; valid for the simple analyzer)."""
    from .. import BM25_B, BM25_K1
    from ..functions.analyzer import analyze_query_py
    from ..oracle import TOKENS_CTE, _sql_str_list

    terms = sorted(set(analyze_query_py(query, analyzer)))
    if not terms:
        return ("SELECT CAST(NULL AS VARCHAR) AS term, "
                "CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS df, "
                "CAST(NULL AS BIGINT) AS doc_len, "
                "CAST(NULL AS DOUBLE) AS idf, "
                "CAST(NULL AS DOUBLE) AS partial WHERE FALSE")
    return f"""
WITH {TOKENS_CTE},
qt AS (SELECT unnest({_sql_str_list(terms)}) AS term),
stats AS (
  SELECT term, count(*)::DOUBLE AS df FROM post
  WHERE term IN (SELECT term FROM qt) GROUP BY term
)
SELECT p.term, p.tf::BIGINT AS tf, s.df::BIGINT AS df,
       d.doc_len::BIGINT AS doc_len,
       round(ln(1 + (c.n - s.df + 0.5)/(s.df + 0.5)), 4) AS idf,
       round(ln(1 + (c.n - s.df + 0.5)/(s.df + 0.5))
             * p.tf*({BM25_K1}+1)
             / (p.tf + {BM25_K1}*(1-{BM25_B}+{BM25_B}*d.doc_len/c.avgdl)),
             4) AS partial
FROM post p
JOIN stats s USING (term)
JOIN dl d USING (doc_id)
CROSS JOIN corpus c
WHERE p.doc_id = {int(doc_id)}
ORDER BY p.term
"""


def collapse_scored(scored: DataFrame, meta: DataFrame, group_col: str,
                    k: int, doc_col: str = "doc_id") -> DataFrame:
    """The collapse kernel, shared by the logical (collapse_topk) and
    persisted (SegmentIndex.collapse) paths: join (doc_id, score) hits
    to ``meta[group_col]``, take the single best hit per group as ONE
    partial-aggregable hash agg (see module docstring for why not a
    window): the max of (score, -doc_id) in lexicographic order is
    (best score, smallest doc_id) — the engine-wide tie-break. Scores
    must arrive already rounded."""
    hits = scored.join(
        meta.select(F.col(doc_col).alias("doc_id"),
                    F.col(group_col).cast("string").alias("group_key")),
        "doc_id",
    )
    # A hash aggregate needs fixed-width buffers (a struct max plans a
    # SortAggregate), so the (score, -doc_id) order packs into one
    # DECIMAL(38,0): round(score·10^4)·10^20 + (2^63-1 - doc_id), whose
    # second term lies in [0, 2^64) < 10^20 — max(key) is the best score,
    # then the smallest doc_id.
    dec = "decimal(38,0)"
    top_id = F.lit(Decimal(2 ** 63 - 1))
    key = (F.round(F.col("score") * 10 ** 4).cast(dec)
           * F.lit(Decimal(10 ** 20))
           + (top_id - F.col("doc_id").cast(dec)))
    best = (
        hits.groupBy("group_key")
        .agg(F.max(key).alias("m"), F.max("score").alias("score"))
        .select(
            "group_key",
            (top_id - F.col("m") % F.lit(Decimal(10 ** 20)))
            .cast("long").alias("doc_id"),
            "score",
        )
    )
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))


def collapse_topk(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    meta: DataFrame,
    group_col: str,
    k: int = 10,
    analyzer: str = "simple",
) -> DataFrame:
    """ES field collapsing: OR-match ``query``, keep the single best hit
    per ``meta[group_col]`` value, rank groups by that best score.
    Output: (group_key, doc_id, score) ordered (score desc, doc_id asc),
    limit k groups. ``meta`` must carry (doc_id, group_col)."""
    from ..functions.analyzer import analyze_query_py

    terms = sorted(set(analyze_query_py(query, analyzer)))
    if not terms:
        return postings.sparkSession.createDataFrame(
            [], "group_key string, doc_id long, score double")
    scored = _scored_or(postings, stats, n_docs, avgdl, terms).select(
        "doc_id", F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
    return collapse_scored(scored, meta, group_col, k)
