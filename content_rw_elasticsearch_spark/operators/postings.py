"""Posting-list construction — (term, doc_id, tf) + corpus statistics.

From-scratch replacement for the index build the reference delegates to
Elasticsearch (reference validates but never builds the index itself:
/root/reference/pkg/es/service.go:51-106, configs/referenceSchema.json).

Everything here is declarative DataFrame code: tokenize (column expression
or Arrow UDF) → explode → hash-aggregate. Catalyst provides partial+final
aggregation (map-side combine) for the tf/df/avgdl aggregations, so the
explode never shuffles raw token rows at full width — only (term, doc_id)
pairs post-combine.

Scale notes (100 TB / 10^12 docs):
  * tf aggregation shuffles on (term, doc_id) — high cardinality, uniform
    (doc_id spreads every hot term), so no skew at THIS stage.
  * df/term-stats aggregation shuffles on term alone — hot terms skew; the
    partial aggregation bounds per-key map output to one row per task, so
    the reduce side sees ≤ #tasks rows per term. Safe without salting.
  * doc_len is denormalized into the postings at build time: +1 int column
    (delta-compresses to ~1 byte) buys query-time freedom from a
    billion-row join against a doc-length table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import analyzer_column


def tokenized(df: DataFrame, text_col: str, doc_col: str, analyzer: str = "simple") -> DataFrame:
    """(doc_id, tokens array, doc_len). doc_len counts post-analysis tokens."""
    return df.select(
        F.col(doc_col).alias("doc_id"),
        analyzer_column(text_col, analyzer).alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


def build_postings(tok_df: DataFrame) -> DataFrame:
    """(term, doc_id, tf, doc_len) via explode + hash aggregation.

    groupBy includes doc_len (functionally dependent on doc_id) so it rides
    the aggregation for free instead of needing a re-join.
    """
    return (
        tok_df.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def build_positional_postings(tok_df: DataFrame) -> DataFrame:
    """(term, doc_id, tf, doc_len, positions) — like build_postings but
    keeping the sorted 0-based token positions per (term, doc). Feeds
    phrase queries (adjacency joins) and the positional segment store."""
    return (
        tok_df.select("doc_id", "doc_len", F.posexplode("tokens").alias("pos", "term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


# dtypes mirror build_postings exactly (tf = long count agg, doc_len =
# int F.size) so staging schemas are interchangeable across builders
DOCLOCAL_SCHEMA = "term string, doc_id long, tf long, doc_len int"
POSITIONAL_VB_SCHEMA = DOCLOCAL_SCHEMA + ", pos_vb binary"


def doc_local_postings(pdf, with_positions: bool):
    """(term, doc_id, tf, doc_len[, pos_vb]) of one frame of token rows
    (doc_id, tokens, doc_len), or None when it holds no token: the numpy
    kernel of _doc_local_postings, also run in-process by the driver
    route of apply_upserts. A NULL token list counts as zero tokens (no
    posting; the row's doc_len stays as given), as the explode of
    build_postings treats it."""
    import numpy as np
    import pandas as pd

    from . import codec

    toks = pdf["tokens"].to_numpy(dtype=object)
    nrows = len(toks)
    if not nrows:
        return None
    lens = np.fromiter((0 if t is None else len(t) for t in toks),
                       dtype=np.int64, count=nrows)
    total = int(lens.sum())
    if total == 0:
        return None
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks
                           if t is not None])
    row_idx = np.repeat(np.arange(nrows, dtype=np.int64), lens)
    row_starts = np.zeros(nrows, dtype=np.int64)
    np.cumsum(lens[:-1], out=row_starts[1:])
    pos = np.arange(total, dtype=np.int64) - row_starts[row_idx]
    # batch-local term codes; (row << 40) | code is collision-free
    # for any realistic batch (codes < 2^40 per Arrow batch)
    codes = pd.factorize(flat)[0].astype(np.int64)
    # (row << 40) | code packing is exact only while both fit —
    # a silent overflow would MERGE two postings' positions
    # (corruption, not an error), same failure class as the
    # encoder's salt guard (ADVICE r4). Arrow batches are capped
    # at maxRecordsPerBatch (10k) rows and a batch's vocab is
    # bounded by its token count, so these never fire in
    # practice.
    if nrows > (1 << 23) or int(codes.max()) >= (1 << 40):
        raise ValueError(
            f"batch too large for (row << 40) | code packing: "
            f"{nrows} rows, {int(codes.max()) + 1} distinct terms"
        )
    key = (row_idx << 40) | codes
    order = np.argsort(key, kind="stable")  # stable keeps pos sorted
    ks = key[order]
    change = np.flatnonzero(ks[1:] != ks[:-1]) + 1
    gs = np.concatenate(([0], change))
    ge = np.concatenate((change, [total]))
    tfs = (ge - gs).astype(np.int64)
    od = order[gs]
    cols = {
        "term": flat[od],
        "doc_id": pdf["doc_id"].to_numpy()[row_idx[od]].astype(np.int64),
        "tf": tfs,
        "doc_len": pdf["doc_len"].to_numpy()[row_idx[od]].astype(np.int32),
    }
    if with_positions:
        buf, nb = codec.positions_encode_with_lengths(
            pos[order].astype(np.uint64), tfs)
        bc = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(nb, out=bc[1:])
        mv = memoryview(buf)
        cols["pos_vb"] = [bytes(mv[s:e]) for s, e in zip(bc[gs], bc[ge])]
    return pd.DataFrame(cols)


def _doc_local_postings(tok_df: DataFrame, with_positions: bool) -> DataFrame:
    """(term, doc_id, tf, doc_len, pos_vb) — build_positional_postings
    with the positions PRE-ENCODED per posting (within-doc delta +
    varbyte, codec.positions_encode semantics), produced DOC-LOCALLY by
    one mapInPandas pass (doc_local_postings per Arrow batch) with zero
    shuffle.

    Why this exists (measured, BENCH/BASELINE.md round 5): (term, doc)
    grouping is doc-local — every posting's rows come from ONE source
    row — but the declarative explode + groupBy + collect_list +
    sort_array form can't tell Catalyst that, so it pays a full exchange
    of position ARRAYS plus a ~|postings|-group hash-agg holding an
    ArrayBuffer per group. At 3M docs / local[8] that made positional
    staging 139 s vs 78 s non-positional; this builder does the grouping
    in numpy inside one Arrow batch (flatten → factorize → one stable
    argsort by (row, term-code) → run-length tf → ONE
    positions_encode_with_lengths pass sliced per posting) and lands at
    66-82 s — at parity with the non-positional agg. Downstream gets a
    self-delimiting varbyte blob per posting whose doc-ordered
    concatenation is byte-identical to encoding the flat group (the
    codec restarts deltas at every doc boundary), so the segment
    encoder just joins bytes; and the staging parquet / encode shuffle /
    Arrow boundary all carry ONE binary value per posting instead of a
    per-element array.

    Works on fielded token frames too: grouping is per SOURCE ROW (a
    (doc, field) row), and field identity lives in the term prefix, so
    per-field doc_len rides through unchanged."""

    def fn(it):
        for pdf in it:
            out = doc_local_postings(pdf, with_positions)
            if out is not None:
                yield out

    return tok_df.mapInPandas(
        fn, POSITIONAL_VB_SCHEMA if with_positions else DOCLOCAL_SCHEMA)


def build_positional_postings_vb(tok_df: DataFrame) -> DataFrame:
    """See _doc_local_postings — the positional (pos_vb) form."""
    return _doc_local_postings(tok_df, with_positions=True)


def build_postings_doclocal(tok_df: DataFrame) -> DataFrame:
    """build_postings semantics via the doc-local numpy pass — no
    exchange, no posting-count-group hash-agg. Measured at 3M docs /
    local[8], same-window interleaved (BENCH/BASELINE.md (m)): staging
    78-84 s (agg) -> 59.6-60.5 s, and the doc-grouped row order
    compresses the staging parquet 748 -> 469 MB. The round-6 2-vs-8
    core A/B closed the open scaling question (faster in absolute terms
    at every core count measured — OPTIMIZATION_r06.md), so this is
    the only non-positional posting builder of build_segments and
    apply_upserts; build_postings stays as the declarative reference
    (InMemoryIndex)."""
    return _doc_local_postings(tok_df, with_positions=False)


def phrase_match(pos_postings: DataFrame, terms: list[str]) -> DataFrame:
    """Exact phrase occurrences: docs where terms appear at consecutive
    positions, with the phrase frequency. Pure relational form — explode
    each term's positions, chain equi-joins on (doc_id, pos + i). The
    first (most selective-ish) term's postings anchor the join; Catalyst
    broadcast/AQE handles the physical strategy.

    Scale note: position explosion is bounded by Σ tf of the phrase's
    terms; phrase terms are typically selective. For all-hot phrases the
    same block-max machinery prunes first (segment path)."""
    if not terms:
        raise ValueError("phrase needs at least one term")
    base = (
        pos_postings.filter(F.col("term") == terms[0])
        .select("doc_id", F.explode("positions").alias("p0"))
    )
    cur = base
    for i, t in enumerate(terms[1:], start=1):
        nxt = (
            pos_postings.filter(F.col("term") == t)
            .select(F.col("doc_id").alias(f"d{i}"), F.explode("positions").alias(f"p{i}"))
        )
        cur = cur.join(
            nxt,
            (F.col("doc_id") == F.col(f"d{i}"))
            & (F.col(f"p{i}") == F.col("p0") + i),
        ).drop(f"d{i}")
    return (
        cur.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("phrase_tf"))
        .orderBy("doc_id")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df) — document frequency per term. Hash agg, partial+final."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(tok_df: DataFrame) -> CorpusStats:
    """Global N and avgdl. One tiny aggregate row collected to the driver —
    these two scalars parameterize every query, the one legitimate collect."""
    row = tok_df.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))
