"""Field-scoped indexing and search (SURVEY §2.J — the ES schema's
per-field analyzed indexes, configs/referenceSchema.json:50-59).

The reference's Elasticsearch mapping analyzes many fields separately
(lead_headline, byline, body, ...) so users can query `title:X` vs
`body:X` and get different rankings. This engine's base path indexes one
catch-all field; this module adds the per-field dimension the way Lucene
does it — the FIELD IS PART OF THE TERM KEY:

  * postings carry (field, term, doc_id, tf, doc_len) where doc_len is the
    length OF THAT FIELD in that document;
  * document frequency is per (field, term);
  * corpus stats (docCount, avgdl) are per field — Lucene's per-field
    norms/statistics, so BM25 over `title` uses title's avgdl, not the
    body's.

Physically one field-scoped query is identical to a base query after
substituting the composite key: filter on (field, term) reaches the
parquet scan as two pushed predicates, stats stay a |q|-row broadcast,
top-k is TakeOrderedAndProject. The build is ONE scan of the corpus —
all fields tokenize in a single projection and stack via explode, so
adding fields never re-reads the table.

Scale: the posting key (field, term, doc_id) is strictly finer than
(term, doc_id), so tf/df aggregations shuffle the same row volume with
MORE key entropy — no new skew. At rest, `field` joins `term` as a
leading sort/partition column (term-range partitioning per field).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..functions.analyzer import analyze_query_py, analyzer_column
from .bm25 import ROUND_DECIMALS, bm25_partial_col


def field_tokenized(df: DataFrame, fields: dict[str, Column | str],
                    doc_col: str = "doc_id",
                    analyzer: str = "simple") -> DataFrame:
    """(doc_id, field, tokens, doc_len) — every field tokenized in ONE scan
    of the corpus (a single select produces all token arrays; explode
    stacks them). doc_len is the per-field post-analysis token count."""
    return _field_rows(df, {name: analyzer_column(col, analyzer)
                            for name, col in fields.items()}, doc_col)


def _field_rows(df: DataFrame, tokens: "dict[str, Column]",
                doc_col: str) -> DataFrame:
    """(doc_id, field, tokens, doc_len): one row per (doc, field) of the
    per-field token columns ``tokens``."""
    structs = [F.struct(F.lit(name).alias("field"), col.alias("tokens"))
               for name, col in tokens.items()]
    return (
        df.select(F.col(doc_col).alias("doc_id"),
                  F.explode(F.array(*structs)).alias("ft"))
        .select("doc_id", "ft.field", "ft.tokens")
        .withColumn("doc_len", F.size("tokens"))
    )


def build_field_postings(tok_df: DataFrame) -> DataFrame:
    """(field, term, doc_id, tf, doc_len) via explode + hash aggregation —
    build_postings with the field in the key."""
    return (
        tok_df.select("doc_id", "field", "doc_len",
                      F.explode("tokens").alias("term"))
        .groupBy("field", "term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def field_term_stats(postings: DataFrame) -> DataFrame:
    """(field, term, df) — document frequency per field-scoped term."""
    return postings.groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))


@dataclass
class FieldedIndex:
    """In-memory fielded index: per-field postings/stats DataFrames plus
    per-field corpus statistics (docCount + avgdl per field, the Lucene
    per-field norms analog)."""

    postings: DataFrame   # (field, term, doc_id, tf, doc_len)
    stats: DataFrame      # (field, term, df)
    field_stats: dict[str, tuple[int, float]]  # field -> (n_docs, avgdl)
    analyzer: str = "simple"

    @classmethod
    def build(cls, corpus: DataFrame, fields: dict[str, Column | str],
              doc_col: str = "doc_id", analyzer: str = "simple",
              cache: bool = True) -> "FieldedIndex":
        tok = field_tokenized(corpus, fields, doc_col, analyzer)
        post = build_field_postings(tok)
        if cache:
            post = post.persist()
        stats = field_term_stats(post)
        if cache:
            stats = stats.persist()
        # one tiny row per field — the per-query scalar parameters
        rows = (
            tok.groupBy("field")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"))
            .collect()
        )
        fstats = {r["field"]: (int(r["n"]), float(r["avgdl"] or 0.0)) for r in rows}
        return cls(postings=post, stats=stats, field_stats=fstats,
                   analyzer=analyzer)

    def search(self, query: str, field: str, k: int = 10,
               mode: str = "AND") -> DataFrame:
        """BM25 top-k over ONE field's postings, scored with that field's
        df/avgdl/docCount. Output (doc_id, score) — rank-identical contract
        as the base engine (rounded score, doc_id tiebreak)."""
        if field not in self.field_stats:
            raise KeyError(f"unknown field {field!r}")
        n_docs, avgdl = self.field_stats[field]
        terms = sorted(set(analyze_query_py(query, self.analyzer)))
        spark = self.postings.sparkSession
        if not terms or n_docs == 0:
            return spark.createDataFrame([], "doc_id long, score double")
        qstats = self.stats.filter(
            (F.col("field") == field) & F.col("term").isin(terms)
        ).select("term", "df")
        cand = (
            self.postings
            .filter((F.col("field") == field) & F.col("term").isin(terms))
            .join(F.broadcast(qstats), "term")
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
        return (
            scored.select("doc_id",
                          F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_multi(self, query: str, weights: dict[str, float],
                     k: int = 10, mode: str = "AND") -> DataFrame:
        """Weighted multi-field BM25 top-k (ES multi_match most_fields
        with field boosts): score = Σ_f boost_f · bm25_f(doc), each field
        scored with its OWN df/docCount/avgdl. mode="AND" requires every
        query term to match in at least one queried field. Fully
        distributed — per-field params are a |fields|-row broadcast and
        idf is computed columnar from the broadcast (field, term) stats."""
        unknown = set(weights) - set(self.field_stats)
        if unknown:
            raise KeyError(f"unknown fields {sorted(unknown)}")
        spark = self.postings.sparkSession
        terms = sorted(set(analyze_query_py(query, self.analyzer)))
        fparams = [
            (f, float(w), float(self.field_stats[f][0]),
             self.field_stats[f][1] or 1.0)
            for f, w in weights.items() if self.field_stats[f][0] > 0
        ]
        if not terms or not fparams:
            return spark.createDataFrame([], "doc_id long, score double")
        pdf = spark.createDataFrame(
            fparams, "field string, w double, n double, favgdl double"
        )
        qstats = self.stats.filter(
            F.col("field").isin([p[0] for p in fparams])
            & F.col("term").isin(terms)
        ).select("field", "term", "df")
        cand = (
            self.postings
            .filter(F.col("field").isin([p[0] for p in fparams])
                    & F.col("term").isin(terms))
            .join(F.broadcast(qstats), ["field", "term"])
            .join(F.broadcast(pdf), "field")
        )
        tf = F.col("tf").cast("double")
        dl = F.col("doc_len").cast("double")
        dfc = F.col("df").cast("double")
        idf = F.log(1.0 + (F.col("n") - dfc + 0.5) / (dfc + 0.5))
        partial = (
            F.col("w") * idf * tf * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.col("favgdl")))
        )
        scored = (
            cand.select("doc_id", "term", partial.alias("partial"))
            .groupBy("doc_id")
            .agg(F.sum("partial").alias("raw"),
                 F.countDistinct("term").alias("nbase"))
        )
        if mode.upper() == "AND":
            scored = scored.filter(F.col("nbase") == len(terms))
        return (
            scored.select("doc_id",
                          F.round(F.col("raw"), ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def unpersist(self) -> None:
        for df in (self.postings, self.stats):
            try:
                df.unpersist()
            except Exception:
                pass


# separator between field name and term in composite posting keys — the
# segment store's at-rest encoding of field scoping (Lucene's terms dict
# is per-field; a composite key gives the same partitioning for free)
FIELD_SEP = "\x1f"


def prefixed_tokens(field: str, col: "Column | str",
                    analyzer: str = "simple") -> Column:
    """The tokens of ``col``, each prefixed ``field<FIELD_SEP>token``."""
    return F.transform(analyzer_column(col, analyzer),
                       lambda t: F.concat(F.lit(field + FIELD_SEP), t))


def prefixed_field_tokenized(df: DataFrame, fields: dict[str, Column | str],
                             doc_col: str = "doc_id",
                             analyzer: str = "simple") -> DataFrame:
    """(doc_id, field, tokens, doc_len) where every token is prefixed
    ``field<FIELD_SEP>token`` — ready for the UNCHANGED postings/segment
    machinery: the composite string IS the term, so tf/df aggregation,
    bucket routing (xxhash64 of the term), block planning, and the WAND
    metadata all become field-scoped without touching their code.
    doc_len stays the FIELD's token count (per-field norms)."""
    return _field_rows(df, {name: prefixed_tokens(name, col, analyzer)
                            for name, col in fields.items()}, doc_col)


# --- DuckDB oracle ---------------------------------------------------------

def fielded_bm25_sql(field_exprs: dict[str, str], query: str, field: str,
                     k: int = 10, mode: str = "AND") -> str:
    """Oracle replay of FieldedIndex.search: ``field_exprs`` maps field
    name → a SQL expression over `documents` producing that field's text
    (mirroring the Spark-side `fields` dict). Stats are per (field, term);
    docCount/avgdl are the chosen field's own."""
    terms = sorted(set(analyze_query_py(query, "simple")))
    if not terms:
        return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS DOUBLE) AS score WHERE FALSE")
    fields_union = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS field, "
        f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), "
        f"x -> x <> '') AS toks FROM documents"
        for name, expr in field_exprs.items()
    )
    inner = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    having = f"HAVING count(*) = {len(terms)}" if mode.upper() == "AND" else ""
    return f"""
WITH fdocs AS ({fields_union}),
fdl AS (SELECT doc_id, field, len(toks)::DOUBLE AS doc_len FROM fdocs),
fcorpus AS (
  SELECT field, count(*)::DOUBLE AS n, avg(doc_len) AS avgdl
  FROM fdl GROUP BY field
),
fpost AS (
  SELECT doc_id, field, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, field, unnest(toks) AS term FROM fdocs)
  GROUP BY doc_id, field, term
),
qt AS (SELECT unnest([{inner}]) AS term),
fstats AS (
  SELECT field, term, count(*)::DOUBLE AS df FROM fpost
  WHERE term IN (SELECT term FROM qt) GROUP BY field, term
),
scored AS (
  SELECT p.doc_id,
         sum( ln(1 + (c.n - s.df + 0.5)/(s.df + 0.5))
              * p.tf*({BM25_K1}+1)
              / (p.tf + {BM25_K1}*(1-{BM25_B}+{BM25_B}*d.doc_len/c.avgdl)) ) AS raw
  FROM fpost p
  JOIN fstats s ON s.field = p.field AND s.term = p.term
  JOIN fdl d ON d.doc_id = p.doc_id AND d.field = p.field
  JOIN fcorpus c ON c.field = p.field
  WHERE p.field = '{field}'
  GROUP BY p.doc_id
  {having}
)
SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def fielded_bm25_multi_sql(field_exprs: dict[str, str], query: str,
                           weights: dict[str, float], k: int = 10,
                           mode: str = "AND") -> str:
    """Oracle replay of search_multi: boost-weighted sum of per-field
    BM25 (each field's own df/docCount/avgdl); AND = every query term
    matched in >= 1 queried field (count DISTINCT base terms)."""
    terms = sorted(set(analyze_query_py(query, "simple")))
    if not terms:
        return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS DOUBLE) AS score WHERE FALSE")
    fields_union = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS field, "
        f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), "
        f"x -> x <> '') AS toks FROM documents"
        for name, expr in field_exprs.items()
    )
    inner = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    fields_in = ", ".join(f"'{f}'" for f in weights)
    boost = "CASE p.field " + " ".join(
        f"WHEN '{f}' THEN {float(w)!r}" for f, w in weights.items()
    ) + " END"
    having = (f"HAVING count(DISTINCT p.term) = {len(terms)}"
              if mode.upper() == "AND" else "")
    return f"""
WITH fdocs AS ({fields_union}),
fdl AS (SELECT doc_id, field, len(toks)::DOUBLE AS doc_len FROM fdocs),
fcorpus AS (
  SELECT field, count(*)::DOUBLE AS n, avg(doc_len) AS avgdl
  FROM fdl GROUP BY field
),
fpost AS (
  SELECT doc_id, field, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, field, unnest(toks) AS term FROM fdocs)
  GROUP BY doc_id, field, term
),
qt AS (SELECT unnest([{inner}]) AS term),
fstats AS (
  SELECT field, term, count(*)::DOUBLE AS df FROM fpost
  WHERE term IN (SELECT term FROM qt) GROUP BY field, term
),
scored AS (
  SELECT p.doc_id,
         sum( {boost}
              * ln(1 + (c.n - s.df + 0.5)/(s.df + 0.5))
              * p.tf*({BM25_K1}+1)
              / (p.tf + {BM25_K1}*(1-{BM25_B}+{BM25_B}*d.doc_len/c.avgdl)) ) AS raw
  FROM fpost p
  JOIN fstats s ON s.field = p.field AND s.term = p.term
  JOIN fdl d ON d.doc_id = p.doc_id AND d.field = p.field
  JOIN fcorpus c ON c.field = p.field
  WHERE p.field IN ({fields_in}) AND p.term IN (SELECT term FROM qt)
  GROUP BY p.doc_id
  {having}
)
SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
