"""Seeded query draws and the DuckDB oracle gate.

Query terms come from the corpus's own document-frequency bands, so every
seed yields the same query shapes over different terms:

* hot  — the three terms of highest df (code stop-words such as
  ``return``, in ~99% of docs; seeds permute them),
* mid  — 2% <= df < 20% (the corpus's ``parse<Word>Response`` idents),
* rare — 2 <= df < 1% (numeric suffixes, the rarest idents).

The bands are narrow so that seeds change the terms but hardly the cost
of a query kind: phrase cost follows the positions of its hot terms, and
the hot terms below the top three occur up to three times less often.

Each answer the engine gives is compared with the package's DuckDB
oracle (``bm25_topk_sql``, ``phrase_match_sql``, ``phrase_prefix_sql``):
searches must be rank-identical top-k lists of (doc_id, score), phrase
kinds the exact (doc_id, phrase_tf) set.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from content_rw_elasticsearch_spark import oracle


@dataclass(frozen=True)
class Query:
    kind: str
    op: str  # "search" | "phrase" | "prefix"
    text: str
    mode: str = "AND"
    k: int = 10
    slop: int = 0

    @property
    def is_phrase(self) -> bool:
        return self.op != "search"


SEARCH_KINDS = ("and_rare", "and_hot", "and_skewed", "and_allhot",
                "and_absent", "or_skewed", "or_allhot_k50", "and_mid_k50")
PHRASE_KINDS = ("phrase0", "phrase1", "phrase_prefix")
# the marker-term visibility probe of the live workload
PROBE_KIND = "probe"
ALL_KINDS = SEARCH_KINDS + PHRASE_KINDS + (PROBE_KIND,)


def df_bands(con, n_docs: int) -> dict[str, list[str]]:
    """Terms of the ``documents`` view split into hot/mid/rare bands."""
    rows = con.sql(
        f"WITH {oracle.TOKENS_CTE} SELECT term, count(*) AS df FROM post "
        "GROUP BY term").fetchall()
    by_df = sorted(rows, key=lambda r: (-r[1], r[0]))
    bands: dict[str, list[str]] = {
        "hot": [t for t, _ in by_df[:3]],
        "mid": [t for t, df in rows if 0.02 * n_docs <= df < 0.2 * n_docs],
        "rare": [t for t, df in rows if 2 <= df < 0.01 * n_docs],
    }
    for name, terms in bands.items():
        if len(terms) < 3:
            raise ValueError(f"df band {name!r} has {len(terms)} terms")
        terms.sort()
    bands["all"] = sorted(t for t, _ in rows)
    return bands


def draw(bands: dict[str, list[str]], seed: int) -> dict[str, Query]:
    """One query per kind, drawn by ``seed`` from the df bands."""
    rng = random.Random(seed)
    hot = rng.sample(bands["hot"], 3)
    mid = rng.sample(bands["mid"], 2)
    rare = rng.sample(bands["rare"], 2)
    known = set(bands["all"])
    absent = next(t for i in range(1000)
                  if (t := f"absent{seed}x{i}") not in known)
    qs = [
        Query("and_rare", "search", rare[0]),
        Query("and_hot", "search", hot[0]),
        Query("and_skewed", "search", f"{rare[1]} {hot[1]}"),
        Query("and_allhot", "search", " ".join(hot)),
        Query("and_absent", "search", absent),
        Query("or_skewed", "search", f"{rare[0]} {hot[2]}", mode="OR"),
        Query("or_allhot_k50", "search", " ".join(hot), mode="OR", k=50),
        Query("and_mid_k50", "search", f"{mid[0]} {hot[0]}", k=50),
        Query("phrase0", "phrase", f"{hot[0]} {hot[1]}"),
        Query("phrase1", "phrase", f"{hot[2]} {mid[1]}", slop=1),
        Query("phrase_prefix", "prefix", f"{hot[1]} {hot[2][:3]}"),
    ]
    return {q.kind: q for q in qs}


def oracle_sql(q: Query) -> str:
    if q.op == "search":
        return oracle.bm25_topk_sql(q.text, k=q.k, mode=q.mode)
    if q.op == "phrase":
        return oracle.phrase_match_sql(q.text, slop=q.slop)
    return oracle.phrase_prefix_sql(q.text)


def expected(con, queries: dict[str, Query],
             workers: int = 4) -> dict[str, list[tuple]]:
    """Oracle answer per query kind over the ``documents`` table. The
    queries run side by side on their own cursors (one DuckDB thread
    each), which is ~2x faster than one at a time on four threads."""
    from concurrent.futures import ThreadPoolExecutor

    con.execute("SET threads TO 1")

    def answer(q: Query) -> list[tuple]:
        return [tuple(r) for r in con.cursor().sql(oracle_sql(q)).fetchall()]

    with ThreadPoolExecutor(workers) as pool:
        answers = list(pool.map(answer, queries.values()))
    return dict(zip(queries, answers))


def run(idx, q: Query):
    """Issue ``q`` against a SegmentIndex and materialize the answer.
    Searches collect their top-k rows; phrase kinds return every
    matching doc, fetched through Arrow."""
    if q.op == "search":
        return idx.search(q.text, k=q.k, mode=q.mode).collect()
    if q.op == "phrase":
        return idx.phrase_search(q.text, slop=q.slop).toPandas()
    return idx.phrase_prefix_search(q.text).toPandas()


def normalize(q: Query, answer) -> list[tuple]:
    if q.op == "search":
        return [(int(r["doc_id"]), float(r["score"])) for r in answer]
    return [(int(d), int(t)) for d, t in
            zip(answer["doc_id"], answer["phrase_tf"])]
