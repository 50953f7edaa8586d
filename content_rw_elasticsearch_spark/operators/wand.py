"""Block-max pruned top-k query execution over the segment store,
generation-aware (base segments + incremental delta generations).

Distributed block-max WAND (SURVEY.md §2.F/§2.J): because the segment
salting is doc-aligned across terms (segments.py — salt classes are nested
powers of two of the SAME hash of doc_id), a global salt class g is a
"block" in the WAND sense: for every query term t its contribution to any
doc in g is bounded by idf_t · partial(max_tf, min_dl) of the compatible
block (evaluated with the QUERY-TIME avgdl — safe under delta-shifted
statistics). So:

  phase 0  metadata-only scan: (term, salt, nb, count, max_tf, min_dl)
           for the query terms — parquet reads NONE of the binary posting
           columns (column pruning) and prunes files/row-groups by term
           (bucket directory + min/max sort). Collected to the driver:
           ≤ |q|·NB_MAX·(1+gens) tiny rows.
  phase 1  seed the threshold θ: exactly score the most-promising global
           classes (highest upper bound) until ≥ k docs are fully scored;
           θ = k-th best true score (minus a half-ulp of the rounding).
  phase 2  prune: keep classes with ub(g) ≥ θ; decode only those blocks,
           score exactly, take top-k.

Incremental semantics (streaming/ingest.py writes the deltas):
  * every upsert/delete of doc d in generation g writes a tombstone (d,g);
    postings of d from generations < g are dropped at decode
    (last-writer-wins — the reference's idempotent uuid-keyed upsert,
    /root/reference/pkg/es/service.go:119-138).
  * N and avgdl are EXACT (maintained in the docs table per batch);
    per-term df is Lucene-faithful approximate until fold_deltas — counts
    include superseded postings, exactly as Lucene counts deleted docs in
    docFreq until segment merge. fold_deltas restores exact df.

Correctness argument for pruning: a dropped class g has ub(g) < θ ≤ true
k-th score, and every doc's true score is ≤ ub(its class) — tombstone
drops only remove score mass, and ub uses the max over generations — so
dropped docs cannot be in the true top-k. Stray docs decoded via a coarse
block that belong to a dropped class are filtered out by re-deriving their
class from doc_id.

One kernel, two executors. Live-posting decode (_decode_postings, the
tombstone rule _live_mask), BM25 scoring (_bm25_kernel) and phrase
matching (_phrase_kernel) exist once, as numpy functions over a frame of
segment rows. The driver executor feeds them a pyarrow read of the base
and every loaded delta generation's segment dirs: on a local store,
queries whose candidate postings fit under DRIVER_MAX_POSTINGS skip Spark
entirely. The distributed executor (SegmentIndex._grouped) routes the
segment rows to salt-class groups — salting is aligned, so every doc's
postings for every term meet in exactly one group — and runs the same
kernel once per group in one groupBy(grp).applyInPandas. URI stores,
filter context and over-bound queries take it. The tombstone arrays are
read once per query (_read_tombstones) and shipped with the kernel.
Every BM25 scorer over the segment store — search, search_synonyms,
search_multi, boolquery.segment_bool_topk and the match sets behind
match_ids / count — runs _bm25_kernel, its score and match groups
covering their score shapes.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import BM25_B, BM25_K1
from .. import storage
from ..functions.analyzer import analyze_query_py, analyzer_column
from ..functions.hashing import pmod, xxh64_long, xxh64_long_np, xxh64_string
from ..storage import join as pjoin
from . import codec
from .bm25 import ROUND_DECIMALS
from .fields import FIELD_SEP
from .segments import SEGMENT_READ_SCHEMA

# trivial-job latency per SparkSession (the T_job term of the prune
# crossover): measured ONCE per session — warmup job first, then the
# median of three — so index loads are deterministic within a session and
# never pay the first-job codegen/scheduler warmup as if it were steady-
# state job latency (ADVICE r3). Keyed by applicationId, not id(spark):
# CPython can reuse a stopped session's id for a new session, which would
# inherit a stale T_job (ADVICE r4); app ids are unique per context.
_TJOB_CACHE: dict[str, float] = {}

# Driver executor postings bound (round 6, guide §1.2/§5): below this
# many candidate postings the cheapest possible Spark plan can never beat
# a bounded driver-side read — the SMALLEST python-boundary Spark job
# measures ~0.2-0.35 s fixed at local[32] (bench_extra.py round-6
# measurements: a 1-partition identity mapInPandas job is 0.20 s, the
# full decode+score job 0.5-0.75 s), while 2M postings are ~10-20 MB of
# varbyte parquet that pyarrow + the numpy codec decode and score in
# tens of milliseconds. This is the same measured-crossover discipline
# as prune_min_postings, applied one level down: tiny queries run the
# kernels on a bounded pyarrow read of the SAME parquet segments — base
# and delta generations, tombstones included (never a cache — every
# query re-reads storage), big queries run the same kernels on the
# distributed executor. The bound counts superseded delta postings too
# (the same Lucene-approximate counts as df). The bound admits top-k
# searches, θ-seeds and phrase / phrase_prefix queries at every slop; on
# the driver the phrase kernel also hands a query to the distributed
# executor past 4x the bound in decoded positions or slop tuples. Memory
# bound: 2M postings ≈ 50 MB of int64 arrays (4x that for phrase
# positions).
DRIVER_MAX_POSTINGS = 2_000_000

_META_COLS = ["term", "salt", "nb", "count", "max_tf", "min_dl"]

_DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("gen", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("tf", LongType()),
        StructField("doc_len", LongType()),
    ]
)

_POS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("gen", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
    ]
)

# (doc_id, tgen) of an index without tombstones
_NO_TOMB = (np.empty(0, np.int64), np.empty(0, np.int64))


def _read_tombstones(spark: SparkSession, path: str, gens: "list[int]"
                     ) -> "tuple[np.ndarray, np.ndarray]":
    """(doc_id, tgen) of the given delta generations' tombstones as numpy
    arrays sorted by doc_id, tgen the max tombstone generation per doc —
    the one tombstone read every live-posting decode applies. A pyarrow
    read through the store (storage.read_parquet: no Spark job on any
    store); re-read on every call (no cache), like every other query
    read."""
    import pyarrow as pa

    if not gens:
        return _NO_TOMB
    fs = storage.fs_for(path, spark)
    schema = pa.schema([("doc_id", pa.int64())])
    dirs = [(g, pjoin(path, "delta", f"gen={g}", "tombstones"))
            for g in gens]
    cols = [storage.read_parquet(fs, d, schema).column("doc_id")
            .drop_null().to_numpy().astype(np.int64) for _g, d in dirs]
    ids = np.concatenate(cols)
    tgen = np.concatenate([np.full(c.size, g, np.int64)
                           for (g, _d), c in zip(dirs, cols)])
    # after a sort by (id, gen) the last row of each id run holds its max
    # tombstone generation
    order = np.lexsort((tgen, ids))
    ids, tgen = ids[order], tgen[order]
    last = np.append(ids[1:] != ids[:-1], True) if ids.size else ids
    return ids[last], tgen[last]


def _live_mask(doc_ids: np.ndarray, gens, tomb) -> "np.ndarray | None":
    """The tombstone rule: a posting of generation ``gens`` (an array
    aligned with ``doc_ids``, or one generation) is live unless its doc
    has a tombstone of a LATER generation — one np.searchsorted over the
    sorted tombstone ids. None when there is no tombstone."""
    t_ids, t_gen = tomb
    if t_ids.size == 0:
        return None
    i = np.minimum(np.searchsorted(t_ids, doc_ids), t_ids.size - 1)
    return (t_ids[i] != doc_ids) | (t_gen[i] <= gens)


def _class_mask(doc_ids: np.ndarray,
                cuts: "list[tuple[int, list[int]]]") -> "np.ndarray | None":
    """Mask of the docs whose salt class pmod(xxh64(doc), mod) is in
    ``classes`` for every (mod, classes) cut; None without cuts."""
    if not cuts:
        return None
    h = xxh64_long_np(doc_ids)
    m = np.ones(doc_ids.size, dtype=bool)
    for mod, classes in cuts:
        m &= np.isin(h % np.int64(mod), np.asarray(classes, dtype=np.int64))
    return m


def _decode_blocks(iterator, tomb=_NO_TOMB, positions: bool = False):
    """mapInPandas decoder: segment rows → exploded LIVE postings
    (``tomb`` from _read_tombstones) as _DECODED_SCHEMA rows, or with
    ``positions`` one _POS_SCHEMA row per token (doc ids repeated per tf;
    blocks without positions are skipped). Arrow-batched,
    numpy-vectorized; one Python call per batch of blocks."""
    vb_col, names = (("pos_vb", ["pos"]) if positions
                     else ("dlens_vb", ["tf", "doc_len"]))
    empty = pd.DataFrame(
        {"term": pd.Series(dtype="str"), "gen": pd.Series(dtype="int32"),
         **{c: pd.Series(dtype="int64") for c in ["doc_id", *names]}})
    for pdf in iterator:
        outs = []
        for docs_vb, tfs_vb, vb, term, gen in zip(
            pdf["docs_vb"], pdf["tfs_vb"], pdf[vb_col], pdf["term"], pdf["gen"]
        ):
            docs = codec.delta_decode(docs_vb).astype(np.int64)
            tfs = codec.varbyte_decode(tfs_vb).astype(np.int64)
            if not positions:
                cols = {"doc_id": docs, "tf": tfs, "doc_len":
                        codec.varbyte_decode(vb).astype(np.int64)}
            elif vb:
                cols = {"doc_id": np.repeat(docs, tfs),
                        "pos": codec.positions_decode(vb, tfs).astype(np.int64)}
            else:
                continue
            live = _live_mask(cols["doc_id"], gen, tomb)
            if live is not None:
                cols = {c: v[live] for c, v in cols.items()}
            outs.append(pd.DataFrame({"term": term, "gen": np.int32(gen),
                                      **cols}))
        yield pd.concat(outs) if outs else empty


def _decode_postings(blocks: pd.DataFrame, tomb
                     ) -> "tuple[np.ndarray, ...]":
    """Segment rows (term, gen, docs_vb, tfs_vb, dlens_vb) → flat
    (doc_ids, tfs, dls, term_idx, uniq_terms) numpy arrays of the live
    postings. Blocks decode in term order, so each doc's partials reach
    the scorer in one order whatever order the rows arrived in (the two
    executors sum them bit-identically)."""
    terms_b = blocks["term"].to_numpy(object)
    uniq, tcodes = np.unique(terms_b, return_inverse=True)
    order = np.argsort(tcodes, kind="stable")
    docs_l, tfs_l, dls_l, tidx_l = [], [], [], []
    for i in order:
        d = codec.delta_decode(blocks["docs_vb"].iat[i]).astype(np.int64)
        docs_l.append(d)
        tfs_l.append(codec.varbyte_decode(
            blocks["tfs_vb"].iat[i]).astype(np.int64))
        dls_l.append(codec.varbyte_decode(
            blocks["dlens_vb"].iat[i]).astype(np.int64))
        tidx_l.append(np.full(d.size, tcodes[i], dtype=np.int64))
    if not docs_l:
        z = np.empty(0, np.int64)
        return z, z, z, z, uniq
    out = [np.concatenate(a) for a in (docs_l, tfs_l, dls_l, tidx_l)]
    if tomb[0].size:  # per-posting generations only when they matter
        gens = np.repeat(blocks["gen"].to_numpy(np.int64)[order],
                         [d.size for d in docs_l])
        live = _live_mask(out[0], gens, tomb)
        out = [a[live] for a in out]
    return (*out, uniq)


_CLAUSES = ("must", "should", "not")


def _bm25_kernel(blocks: pd.DataFrame, tomb, groups: list, msm: int,
                 cuts: "list[tuple[int, list[int]]]"
                 ) -> "tuple[np.ndarray, np.ndarray]":
    """BM25 over segment rows → (doc_ids, raw scores) of the docs that
    survive the class ``cuts`` (_class_mask) and the match rule.

    ``groups`` lists match groups (clause, score groups), clause one of
    _CLAUSES; a score group (weight, avgdl, terms) sums its terms' tfs
    before saturation and scores weight·tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))
    (a "not" group scores nothing). A doc is kept iff it has postings in
    every must group, in no not group and in at least ``msm`` should
    groups. Plain AND/OR/msm search is the corner where every term is its
    own score group and match group (_term_groups).

    Postings are laid out in (match group, score group, term) order — a
    term listed in two groups (overlapping synonym sets) is counted in
    both — so the stable doc sort leaves each doc's run of a group
    contiguous: one reduceat folds tf per (doc, score group), another the
    partials per doc, in the same order on both executors."""
    doc_ids, tfs, dls, tidx, uniq = _decode_postings(blocks, tomb)
    m = _class_mask(doc_ids, cuts)
    if m is not None:
        doc_ids, tfs, dls, tidx = doc_ids[m], tfs[m], dls[m], tidx[m]
    # blocks decode in term order, so term i's postings are one slice
    bounds = np.searchsorted(tidx, np.arange(uniq.size + 1))
    code = {t: i for i, t in enumerate(uniq)}
    w, avg, sg_mg, mg_clause, parts, part_sg = [], [], [], [], [], []
    for mg, (clause, sgs) in enumerate(groups):
        mg_clause.append(_CLAUSES.index(clause))
        for weight, avgdl, terms in sgs:
            for t in terms:
                if t in code:
                    parts.append(np.arange(bounds[code[t]],
                                           bounds[code[t] + 1]))
                    part_sg.append(len(w))
            w.append(0.0 if clause == "not" else weight)
            avg.append(avgdl)
            sg_mg.append(mg)
    idx = np.concatenate(parts) if parts else np.empty(0, np.int64)
    if idx.size == 0:
        return idx, np.empty(0, np.float64)
    sg = np.repeat(np.array(part_sg, np.int64), [p.size for p in parts])
    order = np.argsort(doc_ids[idx], kind="stable")
    idx, sg = idx[order], sg[order]
    ds = doc_ids[idx]
    first = np.concatenate(([True], ds[1:] != ds[:-1]))
    runs = np.flatnonzero(first | np.concatenate(([True], sg[1:] != sg[:-1])))
    tf = tfs[idx]
    if runs.size < idx.size:  # a score group of several terms
        tf, idx, sg, first = (np.add.reduceat(tf, runs), idx[runs],
                              sg[runs], first[runs])
    tf = tf.astype(np.float64)
    dl = dls[idx].astype(np.float64)
    denom = tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / np.array(avg)[sg])
    partial = np.array(w)[sg] * (tf * (BM25_K1 + 1.0)) / denom
    starts = np.flatnonzero(first)
    raw = np.add.reduceat(partial, starts)
    docs_u = doc_ids[idx[starts]]
    # a (doc, match group) run starts at a new doc or a new match group;
    # count each doc's runs per clause
    mg = np.array(sg_mg)[sg]
    hit = first | np.concatenate(([True], mg[1:] != mg[:-1]))
    nc = len(_CLAUSES)
    n = np.bincount((np.cumsum(first) - 1)[hit] * nc
                    + np.array(mg_clause)[mg[hit]],
                    minlength=nc * docs_u.size).reshape(-1, nc)
    keep = ((n[:, 0] == mg_clause.count(0)) & (n[:, 2] == 0)
            & (n[:, 1] >= msm))
    return docs_u[keep], raw[keep]


def _topk_rounded(docs_u: np.ndarray, raw: np.ndarray, k: "int | None",
                  after: "tuple[float, int] | None"
                  ) -> list[tuple[int, float]]:
    """Exact rounded-order top-k over raw scores: the bulk is ranked
    on raw values; HALF_UP rounding (the expensive repr-based exact
    form) touches only the bounded candidate set around the k-th
    score / the cursor boundary. Exactness: ROUND_DECIMALS quantizes
    to q = 10^-4, |round(x) - x| <= q/2, so round is monotone up to a
    q-wide band — candidates with raw >= kth_raw - q - eps are a
    superset of the rounded-order top-k."""
    from .similarity import _round_half_up

    q = 10.0 ** (-ROUND_DECIMALS)
    eps = 1e-9
    if after is not None:
        a_s, a_d = float(after[0]), int(after[1])
        hi = raw > a_s + 0.5 * q + eps        # rounds above the cursor
        border = (~hi) & (raw >= a_s - 0.5 * q - eps)
        keep = ~hi
        for i in np.flatnonzero(border):
            r = _round_half_up(float(raw[i]), ROUND_DECIMALS)
            if r > a_s or (r == a_s and int(docs_u[i]) <= a_d):
                keep[i] = False
        docs_u, raw = docs_u[keep], raw[keep]
    if docs_u.size == 0:
        return []
    if k is not None and docs_u.size > k:
        kth = np.partition(raw, docs_u.size - k)[docs_u.size - k]
        m = raw >= kth - q - eps
        docs_u, raw = docs_u[m], raw[m]
    cand = sorted(
        ((-_round_half_up(float(r), ROUND_DECIMALS), int(d))
         for d, r in zip(docs_u, raw)),
    )
    if k is not None:
        cand = cand[:k]
    return [(d, -s) for s, d in cand]


def _phrase_kernel(blocks: pd.DataFrame, slots: "list[list[str]]",
                   slop: int, tomb, cuts: "list[tuple[int, list[int]]]",
                   cap: "int | None"
                   ) -> "tuple[np.ndarray, np.ndarray] | None":
    """Slot kernel for every phrase shape over segment rows (term, gen,
    docs_vb, tfs_vb, pos_vb) → (doc_ids, phrase_tf), doc-ordered. Slot i
    may be filled by any of the terms ``slots[i]`` (one term for an exact
    phrase, the expansion list for the phrase_prefix slot); a doc counts
    the position tuples with p_i == p0 + i at slop 0, else
    p_{i-1} < p_i <= p0 + i + slop. Positions of superseded postings (a
    later generation's tombstone) and of docs outside the class ``cuts``
    are dropped before any key is built; blocks without positions are
    skipped.

    Doc ids map to dense ordinals and slop is clamped to the largest
    position + 1, so the sorted keys ordinal*M + pos cannot overflow for
    any id width or slop: ordinals stay under the position volume and M
    under about twice the longest doc. Each slot expands the partial
    tuples over their np.searchsorted ranges (at slop 0 a range holds at
    most one key) and the last slot only counts.

    ``cap`` bounds the decoded positions and every slop > 0 expansion;
    past it the kernel returns None (the driver executor then hands the
    query to the distributed one). None disables the guard."""
    terms = sorted({t for slot in slots for t in slot})
    code = {t: i for i, t in enumerate(terms)}
    docs_l, pos_l, tcode_l, used = [], [], [], []
    volume = 0
    for i in range(len(blocks)):
        pvb = blocks["pos_vb"].iat[i]
        if not pvb:
            continue
        used.append(i)
        tfs = codec.varbyte_decode(blocks["tfs_vb"].iat[i])
        volume += int(tfs.sum())
        if cap is not None and volume > cap:
            return None
        pos_l.append(codec.positions_decode(pvb, tfs).astype(np.int64))
        docs_l.append(np.repeat(
            codec.delta_decode(blocks["docs_vb"].iat[i]).astype(np.int64),
            tfs.astype(np.int64)))
        tcode_l.append(np.full(pos_l[-1].size, code[blocks["term"].iat[i]]))
    z = np.empty(0, np.int64)
    if not docs_l:
        return z, z
    docs = np.concatenate(docs_l)
    pos = np.concatenate(pos_l)
    tcode = np.concatenate(tcode_l)
    if tomb[0].size:
        gens = np.repeat(blocks["gen"].to_numpy(np.int64)[used],
                         [p.size for p in pos_l])
        live = _live_mask(docs, gens, tomb)
        docs, pos, tcode = docs[live], pos[live], tcode[live]
    doc_ids, ords = np.unique(docs, return_inverse=True)
    m = _class_mask(doc_ids, cuts)
    if m is not None:
        m = m[ords]
        ords, pos, tcode = ords[m], pos[m], tcode[m]
    if pos.size == 0:
        return z, z
    # every slop >= the largest position admits the same tuples, so
    # the clamp keeps M (and the keys) small without changing answers
    slop = min(max(int(slop), 0), int(pos.max()) + 1)
    M = int(pos.max()) + len(slots) + slop + 1
    key = ords.astype(np.int64) * M + pos
    # positions are unique per doc (one token each), so every slot's
    # key set is duplicate-free
    ks = [np.sort(key[np.isin(tcode, [code[t] for t in slot])])
          for slot in slots]
    first = prev = ks[0]
    weight = None
    for i in range(1, len(ks)):
        lo = np.searchsorted(ks[i], prev, side="right")
        cnt = np.searchsorted(ks[i], first + i + slop, side="right") - lo
        if i == len(ks) - 1:
            weight = cnt  # last slot: count, don't expand
            break
        n = int(cnt.sum())
        if cap is not None and n > cap:
            return None
        row = np.repeat(np.arange(cnt.size), cnt)
        prev = ks[i][np.arange(n) + (lo - np.cumsum(cnt) + cnt)[row]]
        first = first[row]
    tf = np.bincount(first // M, weights=weight,
                     minlength=doc_ids.size).astype(np.int64)
    hit = np.flatnonzero(tf)
    return doc_ids[hit], tf[hit]


def _partial_np(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / max(avgdl, 1e-9)))


@dataclass
class SegmentIndex:
    spark: SparkSession
    path: str
    n_docs: int
    avgdl: float
    nb_max: int
    n_buckets: int
    analyzer: str
    positions: bool = False
    generations: list[int] = field(default_factory=list)  # delta gens, sorted
    # manifest-pointed base layout: fold/merge write a NEW versioned dir and
    # commit it with ONE index.json write (no live-dir swap window)
    seg_dir: str = "segments"
    stats_file: str = "stats.parquet"
    # fielded index (build_segments(fields=...)): per-field docCount/avgdl
    # (Lucene per-field norms) and the field used when a query names none.
    # Posting keys on disk are composite ``field\x1fterm`` strings.
    field_stats: dict | None = None
    default_field: str | None = None
    # below this many candidate postings the two-phase pruned plan costs
    # more (an extra job round-trip + second decode pass) than it saves —
    # go straight exhaustive. load() DERIVES this from measured data (see
    # _derive_crossover); this static value is the fallback when the
    # manifest carries no build metrics. Deployments can still override.
    prune_min_postings: int = 500_000
    # rescore/highlight take the materialized-result + class-cut path
    # (decode positions only for the salt classes the bounded window /
    # top-k occupies) only when the positional decode is
    # volume-dominated: measured at 3M docs / nb_max=256 the 45-class
    # cut of a 50-doc window turns a 135-150 s phrase decode into
    # 7-45 s (BENCH/BASELINE.md (p)); at 5k docs the two extra driver
    # round-trips cost more than the ~1.4 s decode. Overridable like
    # prune_min_postings.
    pos_classes_min_docs: int = 100_000
    # queries whose candidate postings fit under this bound are served by
    # the driver fast path (bounded pyarrow read + numpy scoring — see
    # DRIVER_MAX_POSTINGS); 0 disables the fast path entirely (the
    # distributed-plan parity tests use that).
    driver_max_postings: int = DRIVER_MAX_POSTINGS

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             as_of_gen: int | None = None) -> "SegmentIndex":
        """Open the index — optionally AS OF a committed delta generation
        (time travel): ``as_of_gen=g`` reproduces exactly the state after
        generation g committed (later upserts/tombstones excluded, stats
        from the highest generation <= g), the reproducibility handle a
        training pipeline pins so a rerun reads the same corpus snapshot.
        The whole query path derives from the loaded generation list, so
        this is a load-time filter, not a separate read path. Generations
        folded into the base (gen <= min_gen after fold_deltas) are no
        longer reconstructable — asking for a pre-fold state raises
        rather than silently serving the folded (newer) base."""
        fs = storage.fs_for(path, spark)
        # heal a docs-table swap the ingest crashed in the middle of (the
        # base segment/stats dirs are never swapped — fold/merge commit a
        # new VERSIONED dir through index.json instead). Only attempt the
        # heal — a WRITE — when the live dir is actually missing, so a
        # healthy committed index opens fine from a read-only mount; a
        # stale .bak next to a live dir is left for the next swap's cleanup
        docs_dir = pjoin(path, "docs")
        if not fs.exists(docs_dir):
            storage.restore_swap(fs, docs_dir)
        m = storage.read_json(fs, pjoin(path, "index.json"))
        crossover = cls._derive_crossover(spark, m)
        # delta generations folded into the base are ignored even if their
        # manifests still exist (fold GC is best-effort after its commit)
        min_gen = int(m.get("min_gen", 0))
        if as_of_gen is not None and as_of_gen < min_gen:
            raise ValueError(
                f"as_of_gen={as_of_gen} predates the retained window: "
                f"generations <= {min_gen} were folded into the base and "
                "cannot be reconstructed"
            )
        # generations retired by a delta-tier merge (ingest.
        # merge_delta_tier) are skipped like folded ones; the merged
        # generation tier_min+1 carries their combined state
        tier_min = int(m.get("tier_min_gen", 0))
        if as_of_gen is not None and min_gen < tier_min:
            if as_of_gen == tier_min:
                # post-tier_min state ≡ the merged generation's state
                as_of_gen = tier_min + 1
            elif as_of_gen < tier_min:
                raise ValueError(
                    f"as_of_gen={as_of_gen} was tier-merged: generations "
                    f"<= {tier_min} were squashed into gen {tier_min + 1} "
                    "and cannot be reconstructed individually"
                )
        live = {g: dm for g, dm in
                storage.live_delta_manifests(fs, path, m).items()
                if as_of_gen is None or g <= as_of_gen}
        gens = sorted(live)
        # n_docs/avgdl (and field_stats for fielded indexes) come from the
        # HIGHEST committed delta generation — each batch writes the
        # post-batch exact stats — falling back to the base manifest
        stats_src = live[gens[-1]] if gens else m
        return cls(
            spark=spark, path=path, n_docs=int(stats_src["n_docs"]),
            avgdl=float(stats_src["avgdl"]) or 1.0,
            nb_max=int(m["nb_max"]), n_buckets=int(m["n_buckets"]),
            analyzer=m.get("analyzer", "simple"),
            positions=bool(m.get("positions", False)),
            generations=gens,
            **({"prune_min_postings": crossover} if crossover else {}),
            seg_dir=m.get("seg_dir", "segments"),
            stats_file=m.get("stats_file", "stats.parquet"),
            # explicit None check, not truthiness: a delete-only batch on a
            # fielded index writes field_stats with n_docs == 0 entries —
            # falling back to the BASE manifest there would score against
            # norms for documents that no longer exist (ADVICE r4)
            field_stats=(
                stats_src["field_stats"]
                if stats_src.get("field_stats") is not None
                else m.get("field_stats")
            ),
            default_field=m.get("default_field"),
        )

    @staticmethod
    def _derive_crossover(spark: SparkSession, m: dict) -> int | None:
        """Measured prune_min_postings (VERDICT r2 item 9): the two-phase
        pruned plan pays ~2 extra driver-job round-trips (θ-seeding +
        final decode vs one exhaustive decode); it wins when the decode
        volume it saves costs more than those round-trips.

        * T_job — measured LIVE, once per SparkSession (warmup job, then
          the median of three trivial jobs, clamped to [0.02 s, 1 s]);
          on a busy cluster scheduler this is larger and the crossover
          correctly rises. The warmup + per-session cache keep repeated
          loads deterministic and free of first-job codegen latency.
        * decode rate — estimated from the index's OWN build manifest:
          posting_count / stage-2 encode seconds (decode and encode share
          the Arrow/numpy codec machinery; decode is the cheaper
          direction, so this under-estimates the saving).
        * crossover = 4 · T_job · rate — factor 2 for the two extra jobs
          × ~2 for the candidate fraction the pruned plan still decodes —
          clamped to [100k, 10M] postings.

        Returns None (keep the static default) when the manifest carries
        no metrics. At sf0.1 (~120k postings, ~60k postings/s encode)
        this lands on the 100k floor, so the reference queries keep
        routing through the exhaustive branch exactly as the measured
        sandbox crossover demands; at 3M docs (~2.8M postings/s) it
        lands ≈1M, routing hot queries through the pruned plan that wins
        there (BENCH/BASELINE.md (f))."""
        import statistics
        import time

        bm = m.get("build_metrics") or {}
        pc, s2 = m.get("posting_count"), bm.get("stage2_secs")
        if not pc or not s2:
            return None
        key = spark.sparkContext.applicationId
        if key not in _TJOB_CACHE:
            spark.sql("SELECT 1").collect()  # warmup: codegen + scheduler
            samples = []
            for _ in range(3):
                t0 = time.time()
                spark.sql("SELECT 1").collect()
                samples.append(time.time() - t0)
            _TJOB_CACHE[key] = min(max(statistics.median(samples), 0.02), 1.0)
        t_job = _TJOB_CACHE[key]
        rate = float(pc) / max(float(s2), 1e-6)
        return int(min(10_000_000, max(100_000, 4.0 * t_job * rate)))

    # -- scans ------------------------------------------------------------
    def _all_segments(self) -> DataFrame:
        """Union reader over base + delta generations (plan cached on the
        instance — re-listing parquet dirs per query is pure overhead)."""
        if getattr(self, "_segs_cache", None) is None:
            base = self.spark.read.parquet(pjoin(self.path, self.seg_dir)) \
                .withColumn("gen", F.lit(0))
            parts = [base]
            for g in self.generations:
                parts.append(
                    self.spark.read.schema(SEGMENT_READ_SCHEMA).parquet(
                        pjoin(self.path, "delta", f"gen={g}", "segments")
                    ).withColumn("gen", F.lit(g))
                )
            segs = parts[0]
            for p in parts[1:]:
                segs = segs.unionByName(p)
            self._segs_cache = segs
        return self._segs_cache

    def _segments(self, terms: list[str] | None) -> DataFrame:
        segs = self._all_segments()
        if terms is None:
            return segs
        # driver-side XXH64 (parity-pinned with the JVM expression) →
        # bucket directory pruning without a Spark job
        buckets = sorted({pmod(xxh64_string(t), self.n_buckets) for t in terms})
        return segs.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))

    def _meta(self, terms: list[str]) -> pd.DataFrame:
        """Metadata-only scan — binary columns never touched. On a local
        index the scan is a direct pyarrow read of the base and every
        loaded delta generation (row-group pruned by the term-sorted
        layout, no Spark job — the same file set, filters and gen column
        the Spark plan reads), whichever executor then runs the query;
        URI stores keep the Spark path. Equivalence is pinned by
        tests/test_fast_path.py."""
        if self._local_seg_dirs() is not None:
            return self._meta_local(terms)
        return (
            self._segments(terms)
            .select("term", "gen", "salt", "nb", "count", "max_tf", "min_dl")
            .toPandas()
        )

    # -- driver fast path (bounded local reads; see DRIVER_MAX_POSTINGS) --
    def _local_seg_dirs(self) -> "list[tuple[int, str]] | None":
        """(gen, segment dir) of the base (gen 0) and of every loaded delta
        generation for the driver fast path — the file set _all_segments
        reads — or None when the store is not a plain local path (URI
        stores go through the JVM Hadoop filesystem and the distributed
        plan). A delta dir that is gone (a handle loaded before a merge or
        fold retired it) raises, as the Spark read of it would."""
        if "://" in self.path:
            return None
        base = os.path.join(self.path, self.seg_dir)
        if not os.path.isdir(base):
            return None
        dirs = [(0, base)]
        for g in self.generations:
            d = os.path.join(self.path, "delta", f"gen={g}", "segments")
            if not os.path.isdir(d):
                raise FileNotFoundError(
                    f"delta generation {g} is gone ({d}); reload the index")
            dirs.append((g, d))
        return dirs

    def _fast_eligible(self, filter_ids: "DataFrame | None") -> bool:
        """Fast-path admission: local storage and no ES filter context (an
        arbitrary DataFrame the driver cannot evaluate). Delta
        generations are read like the base, their tombstones applied by
        _live_mask."""
        return filter_ids is None and self._local_seg_dirs() is not None

    def _bucket_dirs(self, terms: list[str]) -> "list[tuple[int, str, list[str]]]":
        """(gen, bucket_dir, terms_in_bucket) over the base and delta
        segment dirs, for the buckets the query terms hash to — the same
        driver-side bucket pruning _segments does."""
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(pmod(xxh64_string(t), self.n_buckets),
                                 []).append(t)
        out = []
        for gen, seg_dir in self._local_seg_dirs():
            for b, ts in sorted(by_bucket.items()):
                bd = os.path.join(seg_dir, f"bucket={b}")
                if os.path.isdir(bd):
                    out.append((gen, bd, sorted(ts)))
        return out

    @staticmethod
    def _with_gen(tab, gen: int):
        """Arrow table + an int32 ``gen`` column (the Spark F.lit(g) type)."""
        import pyarrow as pa

        return tab.append_column(
            "gen", pa.array(np.full(tab.num_rows, gen, dtype=np.int32)))

    def _meta_local(self, terms: list[str]) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tabs = [
            self._with_gen(pq.read_table(bd, columns=_META_COLS,
                                         filters=[("term", "in", ts)]), gen)
            for gen, bd, ts in self._bucket_dirs(terms)
        ]
        tabs = [t for t in tabs if t.num_rows]
        if not tabs:
            return pd.DataFrame(
                {c: pd.Series(dtype="int64") if c != "term"
                 else pd.Series(dtype="object")
                 for c in ["term", "gen"] + _META_COLS[1:]})
        return pa.concat_tables(tabs).to_pandas()[
            ["term", "gen"] + _META_COLS[1:]]

    def _blocks_local(self, terms: list[str],
                      keys: "set[tuple[str, int, int]] | None" = None,
                      cols: "list[str] | None" = None) -> pd.DataFrame:
        """Base and delta segment rows WITH binary columns via pyarrow,
        plus their ``gen``, filtered to the query terms (and, for the
        pruned plan, to the (term, gen, salt) block keys) — the driver
        executor's read."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if cols is None:
            cols = ["term", "salt", "count", "docs_vb", "tfs_vb",
                    "dlens_vb"]
        by_key: "dict[tuple[str, int], list[int]] | None" = None
        if keys is not None:
            by_key = {}
            for t, g, s in keys:
                by_key.setdefault((t, int(g)), []).append(int(s))
        tabs = []
        for gen, bd, ts in self._bucket_dirs(terms):
            if by_key is None:
                filters = [("term", "in", ts)]
            else:
                filters = [
                    [("term", "=", t), ("salt", "in", sorted(by_key[t, gen]))]
                    for t in ts if (t, gen) in by_key
                ]
                if not filters:
                    continue
            tab = pq.read_table(bd, columns=cols, filters=filters)
            if tab.num_rows:
                tabs.append(self._with_gen(tab, gen))
        if not tabs:
            return pd.DataFrame(columns=cols + ["gen"])
        return pa.concat_tables(tabs).to_pandas()

    def _tomb(self) -> "tuple[np.ndarray, np.ndarray]":
        """The loaded generations' tombstones (_read_tombstones)."""
        return _read_tombstones(self.spark, self.path, self.generations)

    def _rows_df(self, rows: list[tuple[int, float]]) -> DataFrame:
        return self._values_df(rows, "doc_id long, score double")

    def _values_df(self, rows: list[tuple], schema: str) -> DataFrame:
        """rows → DataFrame as a JVM LocalRelation (SQL VALUES literal).
        createDataFrame(rows) builds a python-RDD-backed frame whose
        every collect() runs a full python job (~0.2-0.35 s measured); a
        LocalRelation collects driver-side with NO job. Doubles go
        through CAST('<repr>' AS DOUBLE) so the binary value round-trips
        exactly (shortest-repr parse, same contract as
        similarity._round_half_up)."""
        if not rows:
            return self._empty_df(schema)
        cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
        if len(rows) > 2048:
            # a VALUES literal this big costs more to PARSE than the
            # one python job an Arrow-backed frame pays on collect
            # (measured: 38k rows ≈ 1.5 s parse vs ~0.4 s Arrow) — and
            # result sets are bounded by the fast-path volume caps
            pdf = pd.DataFrame(
                {n: [r[i] for r in rows] for i, (n, _t) in enumerate(cols)})
            return self.spark.createDataFrame(pdf, schema)

        def fmt(v, t):
            t = t.strip()
            if t == "double":
                return f"CAST('{float(v)!r}' AS DOUBLE)"
            return f"CAST({int(v)} AS {self._SQL_TYPES[t]})"

        vals = ", ".join(
            "(" + ", ".join(fmt(v, t) for v, (_n, t) in zip(row, cols))
            + ")" for row in rows
        )
        names = ", ".join(n for n, _t in cols)
        return self.spark.sql(
            f"SELECT * FROM VALUES {vals} AS t({names})")

    _SQL_TYPES = {"long": "BIGINT", "bigint": "BIGINT", "int": "INT",
                  "double": "DOUBLE", "string": "STRING"}

    def _empty_df(self, schema: str) -> DataFrame:
        """Cached empty result frame per schema, as a LocalRelation
        (SELECT ... WHERE 1=0 — no python RDD, no job on collect).
        createDataFrame([], ...) cost ~30-60 ms of driver work per call
        plus a ~0.15 s python job per collect, and every query used to
        build one eagerly whether or not it returned empty (a per-query
        tax the r6 profiling caught); the cached PLAN is a constant, so
        reuse is plan reuse like _segs_cache, not result caching."""
        cache = getattr(self, "_empty_cache", None)
        if cache is None:
            cache = {}
            self._empty_cache = cache
        if schema not in cache:
            sel = ", ".join(
                f"CAST(NULL AS {self._SQL_TYPES[t.strip()]}) AS {n.strip()}"
                for n, t in (c.strip().rsplit(" ", 1)
                             for c in schema.split(","))
            )
            cache[schema] = self.spark.sql(f"SELECT {sel} WHERE 1=0")
        return cache[schema]

    def _idf(self, df: int, n_docs: int | None = None) -> float:
        n = self.n_docs if n_docs is None else n_docs
        return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def _resolve_field(self, field: str | None) -> tuple[str, int, float]:
        """→ (term_prefix, n_docs, avgdl) for a query. On a fielded index
        (build_segments(fields=...)) the posting keys are composite
        ``field\x1fterm`` strings and scoring uses the QUERIED field's own
        docCount/avgdl from the manifest's field_stats (Lucene per-field
        norms) — never the manifest's global n_docs/avgdl, which for a
        fielded build count the field-exploded token stream (docs x
        fields) and would inflate idf / blend avgdl across fields."""
        if self.field_stats:
            f = field or self.default_field
            if f not in self.field_stats:
                raise KeyError(
                    f"unknown field {f!r}; index has {sorted(self.field_stats)}"
                )
            fs = self.field_stats[f]
            return f + FIELD_SEP, int(fs["n_docs"]), float(fs["avgdl"]) or 1.0
        if field is not None:
            raise ValueError(
                "field-scoped search requires an index built with "
                "build_segments(fields=...); this index is unfielded"
            )
        return "", self.n_docs, self.avgdl

    def _filter_keys(self, segs: DataFrame,
                     keys: set[tuple[str, int, int]]) -> DataFrame:
        """Restrict segment rows to the given (term, gen, salt) block keys
        via a broadcast left-semi join. Bounded plan regardless of |keys|:
        the previous string-concat in-list put up to |q|·NB_MAX·(1+gens)
        literals into the plan (codegen/analysis cost scaling with key
        count, no pushdown on the synthesized column — VERDICT r4 #3)."""
        kdf = self.spark.createDataFrame(
            sorted(keys), "term string, gen int, salt int"
        )
        return segs.join(F.broadcast(kdf), ["term", "gen", "salt"], "left_semi")

    def _decode(self, terms: list[str],
                keys: set[tuple[str, int, int]] | None) -> DataFrame:
        """Live postings of ``terms`` (restricted to the (term, gen, salt)
        block keys when given)."""
        segs = self._segments(terms)
        if keys is not None:
            segs = self._filter_keys(segs, keys)
        return self._decoded(segs)

    def _decoded(self, segs: DataFrame, positions: bool = False) -> DataFrame:
        """mapInPandas decode of segment rows into live postings:
        (term, gen, doc_id, tf, doc_len), or (term, gen, doc_id, pos)
        with ``positions``. The tombstone arrays ride in the decoder, so
        superseded postings never leave it."""
        # coalesce to core count: query-filtered segment sets are a few
        # small files per bucket; without this every tiny file-partition
        # spawns its own Python worker (decode-side worker storm)
        par = self.spark.sparkContext.defaultParallelism
        return segs.select("term", "gen", "docs_vb", "tfs_vb",
                           "pos_vb" if positions else "dlens_vb") \
            .coalesce(max(1, par)) \
            .mapInPandas(functools.partial(_decode_blocks, tomb=self._tomb(),
                                           positions=positions),
                         _POS_SCHEMA if positions else _DECODED_SCHEMA)

    # -- executors ----------------------------------------------------------
    def _grouped(self, terms: list[str], meta: pd.DataFrame,
                 classes: "list[int] | None", cols: list[str],
                 kernel, schema: str) -> DataFrame:
        """The distributed executor: one groupBy(grp).applyInPandas over
        the segment rows of ``terms``. With G = the largest block count
        nb among the terms' blocks, block (t, gen, s, nb_t) goes to every
        group g < G with g % nb_t == s; ``kernel(blocks, (G, [g]))`` then
        keeps the postings of docs with pmod(xxh64(doc), G) == g. Salting
        is aligned (nb_t are powers of two dividing G), so every doc's
        postings for every term meet in exactly one group; only terms with
        nb_t < G are replicated, and those are small by construction
        (plan_block_counts). ``classes`` (global salt classes mod nb_max)
        drops the groups — and so the blocks — no listed class maps to."""
        G = int(meta["nb"].max())
        grp = F.explode(F.sequence(F.col("salt"), F.lit(G - 1), F.col("nb")))
        rows = self._segments(terms).select(*cols, grp.alias("grp"))
        if classes is not None:
            rows = rows.filter(
                F.col("grp").isin(sorted({int(c) % G for c in classes})))
        return rows.groupBy("grp").applyInPandas(
            lambda key, blocks: kernel(blocks, (G, [int(key[0])])), schema)

    def _term_groups(self, clauses: "dict[str, str]",
                     term_df: dict[str, int], n_docs: int, avgdl: float
                     ) -> list:
        """_bm25_kernel groups of a term query: each term (in sorted
        order) its own match group, with clause ``clauses[term]``, and
        its own score group weighted by its idf."""
        return [(c, [(self._idf(term_df[t], n_docs), avgdl, [t])])
                for t, c in sorted(clauses.items())]

    def _bm25(self, meta: pd.DataFrame, groups: list, msm: int,
              k: "int | None", classes: "list[int] | None" = None,
              after: "tuple[float, int] | None" = None,
              filter_ids: DataFrame | None = None
              ) -> "list[tuple[int, float]] | DataFrame":
        """Rounded BM25 (doc_id, score) of the match ``groups`` (see
        _bm25_kernel) — top-k in (score desc, doc_id asc) order, or the
        full match set with k=None — restricted to the global salt
        ``classes`` when given, after the ``after`` cursor, within
        ``filter_ids``. One kernel (_bm25_kernel), two executors: a top-k
        over candidate postings (base and delta) under
        driver_max_postings on a local store runs it on the driver and
        returns [(doc_id, score)]; everything else runs it per salt-class
        group (_grouped) and returns a DataFrame. There each group cuts
        its own exact rounded top-k (every doc lives in one group, so the
        global top-k of the groups' top-k is exact); with filter_ids or
        k=None the groups return raw scores, semi-joined to the filter
        before Spark rounds and cuts (a filter only removes docs)."""
        terms = sorted({t for _c, sgs in groups for *_w, ts in sgs
                        for t in ts})
        cuts, tomb = self._cuts(classes), self._tomb()
        if (k is not None and self.driver_max_postings > 0
                and self._fast_eligible(filter_ids)):
            keys = (None if classes is None
                    else self._keys_for_classes(meta, classes))
            if self._keys_volume(meta, keys) <= self.driver_max_postings:
                return _topk_rounded(*_bm25_kernel(
                    self._blocks_local(terms, keys), tomb, groups, msm,
                    cuts), k, after)
        cut = k is not None and filter_ids is None

        def kernel(blocks, group_cut):
            docs_u, raw = _bm25_kernel(blocks, tomb, groups, msm,
                                       cuts + [group_cut])
            if cut:
                top = _topk_rounded(docs_u, raw, k, after)
                docs_u = np.array([d for d, _ in top], dtype=np.int64)
                raw = np.array([s for _, s in top], dtype=np.float64)
            return pd.DataFrame({"doc_id": docs_u, "score": raw})

        res = self._grouped(
            terms, meta, classes,
            ["term", "gen", "docs_vb", "tfs_vb", "dlens_vb"], kernel,
            "doc_id long, score double")
        if not cut:
            if filter_ids is not None:
                res = res.join(filter_ids.select("doc_id"), "doc_id",
                               "left_semi")
            res = res.select(
                "doc_id", F.round("score", ROUND_DECIMALS).alias("score"))
            if after is not None:
                # keyset cursor on the ROUNDED (score desc, doc_id asc)
                # total order — the order pages are served in
                a_s, a_d = float(after[0]), int(after[1])
                res = res.filter(
                    (F.col("score") < a_s)
                    | ((F.col("score") == a_s) & (F.col("doc_id") > a_d)))
        if k is None:
            return res
        return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _as_df(self, res: "list[tuple[int, float]] | DataFrame"
               ) -> DataFrame:
        return self._rows_df(res) if isinstance(res, list) else res

    @staticmethod
    def _as_rows(res: "list[tuple[int, float]] | DataFrame"
                 ) -> list[tuple[int, float]]:
        if isinstance(res, list):
            return res
        return [(int(r["doc_id"]), float(r["score"])) for r in res.collect()]

    # -- public -----------------------------------------------------------
    def search(self, query: str, k: int = 10, mode: str = "AND",
               prune: bool = True, field: str | None = None,
               min_should_match: int | None = None,
               after: "tuple[float, int] | None" = None,
               filter_ids: DataFrame | None = None) -> DataFrame:
        """BM25 top-k. On a fielded index ``field`` picks the scope
        (default: the manifest's default_field); terms become composite
        ``field\x1fterm`` keys and BM25 uses that field's docCount/avgdl.
        ``min_should_match`` (OR mode; the ES bool-query knob) keeps only
        docs matching >= that many distinct query terms; the block-max
        pruning lattice tightens with it — a salt class is feasible only
        if at least msm of the terms have postings there (the AND lattice
        is the msm == len(terms) corner of the same rule).
        ``after`` = (score, doc_id) is the ES search_after keyset cursor:
        returns the next k results STRICTLY after the cursor in the
        (score desc, doc_id asc) total order. Deep pagination stays
        O(k) per page (no offset scan); block-max pruning still applies
        because theta is seeded from post-cursor scores, and every doc a
        page needs scores >= that theta.
        ``filter_ids`` is the ES bool.filter context: a (doc_id) DataFrame
        restricting the match set WITHOUT contributing to scores (filters
        carry no BM25 weight in ES either). Pruning stays valid because a
        filter only REMOVES documents: every class upper bound ub(g) still
        bounds every surviving doc's score, and θ — seeded from the
        FILTERED seed classes' k-th score — only prunes classes whose best
        possible (unfiltered) score is already below it."""
        prefix, n_docs, avgdl = self._resolve_field(field)
        terms = sorted(
            {prefix + t for t in analyze_query_py(query, self.analyzer)}
        )
        empty = self._empty_df("doc_id long, score double")
        # a field whose every document was deleted (delta field_stats says
        # n_docs == 0) matches nothing — short-circuit instead of scoring
        # stale postings with degenerate idf (ADVICE r4)
        if not terms or n_docs == 0:
            return empty
        meta = self._meta(terms)
        if meta.empty:
            return empty
        found = set(meta["term"].unique())
        is_and = mode.upper() == "AND"
        if is_and and found != set(terms):
            return empty  # a required term is absent from the corpus
        terms = sorted(found)
        msm = None
        if not is_and and min_should_match is not None:
            msm = int(min_should_match)
            if msm <= 1:
                msm = None  # plain OR
            elif msm > len(terms):
                return empty  # fewer matchable terms than required
        # Lucene-faithful df: includes superseded postings until fold
        term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
        groups = self._term_groups(
            dict.fromkeys(terms, "must" if is_and else "should"), term_df,
            n_docs, avgdl)
        total = sum(term_df.values())

        def bm25(classes):
            return self._bm25(meta, groups, 0 if is_and else msm or 1, k,
                              classes, after, filter_ids)

        if not prune or total <= self.prune_min_postings:
            return self._as_df(bm25(None))

        # ---- block-max pruning math (driver-side, metadata only) ----
        ub = np.zeros(self.nb_max)                  # score upper bound per class
        present_cnt = np.zeros(self.nb_max, dtype=int)  # terms present per class
        cnt_min = np.full(self.nb_max, np.inf)
        cnt_max = np.zeros(self.nb_max)
        for t, (ct_full, mp_full) in self._class_lattice(meta, avgdl).items():
            ub += self._idf(term_df[t], n_docs) * mp_full
            cnt_min = np.minimum(cnt_min, ct_full)
            cnt_max = np.maximum(cnt_max, ct_full)
            present_cnt += ct_full > 0
        if is_and:
            feasible = present_cnt == len(terms)
        elif msm is not None:
            # a doc matching >= msm terms lives in a class where >= msm
            # of the terms have postings — same lattice, looser corner
            feasible = present_cnt >= msm
        else:
            feasible = ub > 0
        est = cnt_min if is_and else cnt_max
        order = [int(x) for x in np.argsort(-ub) if feasible[int(x)]]
        if not order:
            return empty

        seed: list[int] = []
        got = 0.0
        for cls in order:
            seed.append(cls)
            got += est[cls]
            if got >= k:
                break

        # θ-seeding: the seed classes' decode volume is bounded (classes
        # are added only until est >= k, blocks target TARGET_BLOCK
        # postings), so on an eligible index the seed phase runs on the
        # driver executor — no Spark job round-trip (~0.2-0.75 s
        # measured, bench_extra.py) in a pruned query
        seed_top = self._as_rows(bm25(seed))
        if len(seed_top) >= k:
            # θ is derived from a ROUNDED score; subtract a half-ulp of the
            # rounding so (a) rounding-up can't inflate θ past the true raw
            # k-th score and (b) docs tying the k-th rounded score (broken
            # by doc_id in the final sort) always survive pruning.
            theta = float(seed_top[-1][1]) - 0.5 * 10 ** (-ROUND_DECIMALS)
            keep = [c for c in order if ub[c] >= theta or c in set(seed)]
        else:
            keep = order  # not enough seeds: fall back to all feasible classes
        return self._as_df(bm25(keep))

    def _class_lattice(self, meta: pd.DataFrame, avgdl: float
                       ) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
        """Per term: (posting count, block-max BM25 partial) of each global
        salt class 0..nb_max-1, summed (counts) and maxed (partials) over
        generations. Salting is aligned — block salt s of a term with nb_t
        blocks holds exactly the docs of the classes g with g % nb_t == s —
        so every block value broadcasts onto its classes with one gather.
        The partials are the scorer's upper bound; phrase feasibility
        reads the counts alone."""
        g = np.arange(self.nb_max)
        out = {}
        for t, tgrp in meta.groupby("term"):
            ct_full = np.zeros(self.nb_max)
            mp_full = np.zeros(self.nb_max)
            for (_gen, nb_t), grp in tgrp.groupby(["gen", "nb"]):
                nb_t = int(nb_t)
                salt = grp["salt"].to_numpy()
                ct = np.zeros(nb_t)
                ct[salt] = grp["count"].to_numpy()
                ct_full += ct[g % nb_t]
                mp = np.zeros(nb_t)
                mp[salt] = _partial_np(grp["max_tf"].to_numpy(),
                                       grp["min_dl"].to_numpy(), avgdl)
                mp_full = np.maximum(mp_full, mp[g % nb_t])
            out[t] = (ct_full, mp_full)
        return out

    @staticmethod
    def _keys_volume(meta: pd.DataFrame,
                     keys: "set[tuple[str, int, int]] | None") -> int:
        """Total posting count of the given (term, gen, salt) block keys,
        or of every block with keys=None (from the already-fetched
        metadata — no extra scan)."""
        if keys is None:
            return int(meta["count"].sum())
        return int(sum(
            int(c) for t, g, s, c in zip(
                meta["term"], meta["gen"], meta["salt"], meta["count"])
            if (t, int(g), int(s)) in keys
        ))

    def _phrase_local(self, slots: "list[list[str]]", slop: int,
                      keys: "set[tuple[str, int, int]]",
                      within_classes: "list[int] | None"
                      ) -> "list[tuple[int, int]] | None":
        """The driver executor of the phrase kernel: a pyarrow read of the
        (term, gen, salt) ``keys`` blocks, _phrase_kernel under the
        4x driver_max_postings volume guards (admission only knows
        posting counts, so this catches tf-skewed data) → [(doc_id,
        phrase_tf)], or None when a guard trips."""
        terms = sorted({t for slot in slots for t in slot})
        blocks = self._blocks_local(
            terms, keys, cols=["term", "docs_vb", "tfs_vb", "pos_vb"])
        out = _phrase_kernel(blocks, slots, slop, self._tomb(),
                             self._cuts(within_classes),
                             4 * self.driver_max_postings)
        return None if out is None else list(zip(out[0].tolist(),
                                                 out[1].tolist()))

    def _cuts(self, classes: "list[int] | None"
              ) -> "list[tuple[int, list[int]]]":
        """Kernel class cut for global salt ``classes`` (mod nb_max)."""
        return [] if classes is None else [(self.nb_max, list(classes))]

    def phrase_search(self, phrase: str, field: str | None = None,
                      slop: int = 0,
                      within_classes: "list[int] | None" = None
                      ) -> DataFrame:
        """Phrase match over the positional segment store →
        (doc_id, phrase_tf) ordered by doc_id. Decodes positions ONLY for
        the phrase's terms, restricted to salt classes where every term is
        present (AND feasibility over the aligned salting — the same
        pruning lattice the scorer uses). Requires an index built with
        with_positions=True. On a fielded index the match is scoped to
        ``field`` (positions are per-field token offsets, so phrases never
        span fields).

        ``slop`` > 0 is the proximity query (ES match_phrase slop, ordered
        form): a match is any tuple of strictly increasing positions —
        one per term, in query order — whose last term sits within
        ``len(terms) - 1 + slop`` tokens of the first, i.e. up to ``slop``
        extra tokens interleave. phrase_tf counts such tuples. slop == 0
        is exactly the adjacency chain (strictly increasing positions with
        last == first + n - 1 pigeonholes every gap to 1). Each
        intermediate step is bounded by ``p_i <= p0 + i + slop`` — implied
        by the final window bound plus strict increase
        (p_{n-1} >= p_i + (n-1-i)), so the per-step pruning never changes
        results.

        Every slop runs one slot kernel (_phrase_kernel): on the driver
        when the index is local (base-only or with delta generations) and
        the candidate postings fit under driver_max_postings; URI
        stores, bigger candidate sets and the driver's volume guards run
        it per salt-class group on the distributed executor.

        ``within_classes`` restricts the result to docs whose salt class
        is in the list (intersected with the AND-feasibility lattice;
        blocks of a class hold only that class's docs, so the class cut
        is exact) — the hook rescore uses to decode positions ONLY for
        the classes its bounded window occupies."""
        if not self.positions:
            raise ValueError(
                "phrase_search requires a positional index — rebuild with "
                "build_segments(..., with_positions=True); this index was "
                "built without positions"
            )
        prefix, _, avgdl = self._resolve_field(field)
        terms = [prefix + t for t in analyze_query_py(phrase, self.analyzer)]
        if not terms:
            return self._empty_df("doc_id long, phrase_tf long")
        meta = self._meta(sorted(set(terms)))
        if meta.empty or set(meta["term"].unique()) != set(terms):
            return self._empty_df("doc_id long, phrase_tf long")
        return self._phrase([[t] for t in terms], meta, avgdl, slop,
                            within_classes)

    def _phrase(self, slots: "list[list[str]]", meta: pd.DataFrame,
                avgdl: float, slop: int,
                within_classes: "list[int] | None") -> DataFrame:
        """Shared body of phrase_search and phrase_prefix_search: slot i
        is filled by any term of ``slots[i]``; ``meta`` covers them all.
        → (doc_id, phrase_tf) ordered by doc_id.

        The positional decode reads only the blocks of salt classes where
        every slot has postings (AND over slots, OR within a slot — the
        scorer's feasibility lattice), cut further to ``within_classes``.
        On a fast-path eligible (local) index whose candidate postings —
        base and delta generations together — fit under
        driver_max_postings the slot kernel (_phrase_kernel) runs on the
        driver (_phrase_local); every other case, and every guard the
        driver trips, runs the same kernel on the distributed executor
        (_grouped), without the guards. Its groups' doc-ordered outputs
        are merged by one single-partition sort — every phrase match
        passes through one task, which saves the range-sampling job a
        global orderBy costs."""
        empty = self._empty_df("doc_id long, phrase_tf long")
        lattice = self._class_lattice(meta, avgdl)
        present = np.ones(self.nb_max, dtype=bool)
        for slot in slots:
            present &= sum(lattice[t][0] for t in slot) > 0
        if within_classes is not None:
            mask = np.zeros(self.nb_max, dtype=bool)
            mask[[c for c in within_classes if 0 <= c < self.nb_max]] = True
            present &= mask
        classes = [int(x) for x in np.flatnonzero(present)]
        if not classes:
            return empty
        if self.driver_max_postings > 0 and self._fast_eligible(None):
            keys = self._keys_for_classes(meta, classes)
            if self._keys_volume(meta, keys) <= self.driver_max_postings:
                rows = self._phrase_local(slots, slop, keys, within_classes)
                if rows is not None:
                    return self._values_df(rows,
                                           "doc_id long, phrase_tf long")
        tomb, cuts = self._tomb(), self._cuts(within_classes)

        def kernel(blocks, group_cut):
            docs, tf = _phrase_kernel(blocks, slots, slop, tomb,
                                      cuts + [group_cut], None)
            return pd.DataFrame({"doc_id": docs, "phrase_tf": tf})

        return self._grouped(
            sorted({t for slot in slots for t in slot}), meta, classes,
            ["term", "gen", "docs_vb", "tfs_vb", "pos_vb"], kernel,
            "doc_id long, phrase_tf long"
        ).repartition(1).sortWithinPartitions("doc_id")

    def _prefix_expansions_local(self, last: str,
                                 max_expansions: int) -> list[str]:
        """The first ``max_expansions`` distinct terms of the base and
        delta segments that start with ``last``, in sorted order — the
        fast-path twin of the Spark term-dictionary scan over
        _all_segments in phrase_prefix_search. Reads the ``term`` column
        alone, filtered to ``last <= term < upper`` (upper: ``last`` with
        its final character incremented, the least string above every
        extension of ``last``), so the term-sorted layout prunes row
        groups on both sides of the prefix range."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        filters = [("term", ">=", last)]
        nxt = ord(last[-1]) + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000  # surrogates never occur in a str term
        if nxt <= 0x10FFFF:
            filters.append(("term", "<", last[:-1] + chr(nxt)))
        hits: set[str] = set()
        for _gen, d in self._local_seg_dirs():
            # a delete-only delta has no bucket dirs (nothing to read)
            if not any(n.startswith("bucket=") for n in os.listdir(d)):
                continue
            col = pq.read_table(d, columns=["term"],
                                filters=filters).column("term")
            hits.update(pc.unique(col.filter(pc.starts_with(col, last)))
                        .to_pylist())
        return sorted(hits)[:max(int(max_expansions), 0)]

    def phrase_prefix_search(self, phrase: str, field: str | None = None,
                             max_expansions: int = 50) -> DataFrame:
        """ES ``match_phrase_prefix`` (the autocomplete query): exact
        phrase over every term but the LAST, which is a prefix expanded
        to the first ``max_expansions`` term-dictionary entries in
        lexicographic order (Lucene's expansion order and default cap),
        then matched as a MultiPhraseQuery — a position tuple counts if
        the last slot holds ANY expansion. → (doc_id, phrase_tf) ordered
        by doc_id.

        Cost shape: the expansion is a term-dictionary scan of the base
        and delta segments that reads only the term column (the
        term-sorted segment layout row-group-prunes the range) — a
        pyarrow read on a local index (on either executor), otherwise a
        Spark job with a bounded collect of <= max_expansions terms. The
        positional decode then reads only the exact terms + expansions,
        restricted to salt classes where every exact term AND at least
        one expansion is present — the feasibility lattice phrase_search
        uses, with an OR corner for the expansion slot — and runs the
        same slot kernel on the same executor choice as phrase_search at
        slop 0."""
        if not self.positions:
            raise ValueError(
                "phrase_prefix_search requires a positional index — "
                "rebuild with build_segments(..., with_positions=True)"
            )
        prefix, _, avgdl = self._resolve_field(field)
        toks = analyze_query_py(phrase, self.analyzer)
        empty = self._empty_df("doc_id long, phrase_tf long")
        if not toks:
            return empty
        exact = [prefix + t for t in toks[:-1]]
        last = prefix + toks[-1]
        if self._local_seg_dirs() is not None:
            expansions = self._prefix_expansions_local(last, max_expansions)
        else:
            expansions = [
                r["term"] for r in
                self._all_segments().filter(F.col("term").startswith(last))
                .select("term").distinct()
                .orderBy("term").limit(int(max_expansions)).collect()
            ]
        if not expansions:
            return empty
        meta = self._meta(sorted(set(exact) | set(expansions)))
        if meta.empty or not set(exact) <= set(meta["term"].unique()):
            return empty
        return self._phrase([[t] for t in exact] + [expansions], meta,
                            avgdl, 0, None)

    def highlight(self, query: str, docs: DataFrame,
                  text_col: str = "content", doc_col: str = "doc_id",
                  k: int = 10, mode: str = "AND",
                  window: int = 8, prune: bool = True) -> DataFrame:
        """Top-k with snippets (the ES highlighter analog): BM25 search,
        then per hit the ``window``-token span covering the most distinct
        query terms, rendered from ``docs``' text with the index's own
        tokenization (see operators/highlight.py). Positions come from
        the positional store for JUST the query terms — the same data
        the phrase path decodes — so no corpus re-tokenize; the ``docs``
        join touches only the k hits. Requires with_positions=True;
        non-fielded indexes only (a fielded snippet would need the
        field's own source text)."""
        if not self.positions:
            raise ValueError(
                "highlight requires a positional index — rebuild with "
                "build_segments(..., with_positions=True)"
            )
        topk = self.search(query, k=k, mode=mode, prune=prune)
        terms = sorted(set(analyze_query_py(query, self.analyzer)))
        empty = self._empty_df(
            "doc_id long, score double, snippet string, n_window_terms long")
        if not terms:
            return empty
        meta = self._meta(terms)
        if meta.empty:
            return empty
        # decode positions only for the salt classes the k hits occupy
        # when the decode is volume-dominated (same gate + measurement as
        # rescore — BENCH/BASELINE.md (p); k hits cover <= k classes, so
        # at k=10 / nb_max=256 the cut removes >= 96% of the volume).
        # Exactness: highlight_topk joins positions to the k hit ids, so
        # sibling docs sharing a kept block drop out there.
        segs = self._segments(sorted(set(meta["term"].unique())))
        hit_ids = None
        if (k <= self.nb_max // 4
                and self.n_docs >= self.pos_classes_min_docs):
            rows = topk.collect()
            if not rows:
                return empty
            hit_ids = [int(r["doc_id"]) for r in rows]
            topk = self._rows_df(
                [(int(r["doc_id"]), float(r["score"])) for r in rows])
            # salt classes of the <= k hits, derived driver-side with the
            # parity-pinned hash (was a distinct+collect Spark job over a
            # local relation — pure round-trip overhead)
            classes = sorted(
                {pmod(xxh64_long(d), self.nb_max) for d in hit_ids})
            segs = self._filter_keys(segs,
                                     self._keys_for_classes(meta, classes))
        decoded = self._decoded(segs, positions=True)
        from .highlight import highlight_topk

        return highlight_topk(
            topk, decoded.select("term", "doc_id", "pos"), docs, terms,
            text_col, doc_col, window, hit_ids=hit_ids,
        )

    def more_like_this(self, doc_id: int, docs: DataFrame,
                       text_col: str = "content", doc_col: str = "doc_id",
                       k: int = 10, max_query_terms: int = 25,
                       min_term_freq: int = 1, min_doc_freq: int = 1,
                       prune: bool = True) -> DataFrame:
        """ES more_like_this over the PERSISTED index (the scale path of
        operators/search_ext.more_like_this). The inverted store has no
        forward (doc → terms) index — exactly ES's situation without
        term vectors — so the source doc's (term, tf) comes from
        re-analyzing its text out of ``docs`` (ONE row, driver-side,
        like ES's like-text analysis); df comes from the metadata-only
        block scan (zero posting decode). Term selection (tf·idf desc,
        6-dp half-up rounding, term-asc tie-break) is a ≤|doc| python
        sort; the query itself is the ordinary pruned OR search at k+1
        with the source dropped — exact, since removing at most one row
        from an exact top-(k+1) leaves the exact top-k of the rest."""
        from .similarity import _round_half_up

        empty = self._empty_df("doc_id long, score double")
        row = (docs.filter(F.col(doc_col) == int(doc_id))
               .select(text_col).limit(1).collect())
        if not row or row[0][0] is None:
            return empty
        toks = analyze_query_py(row[0][0], self.analyzer)
        if not toks:
            return empty
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        prefix, n_docs, avgdl = self._resolve_field(None)
        meta = self._meta(sorted(prefix + t for t in tf))
        if meta.empty or n_docs == 0:
            return empty
        term_df = {t[len(prefix):]: int(g["count"].sum())
                   for t, g in meta.groupby("term")}
        ranked = sorted(
            ((_round_half_up(tf[t] * self._idf(df_t, n_docs), 6), t)
             for t, df_t in term_df.items()
             if tf[t] >= int(min_term_freq) and df_t >= int(min_doc_freq)),
            key=lambda x: (-x[0], x[1]),
        )[: int(max_query_terms)]
        if not ranked:
            return empty
        sel = self.search(" ".join(sorted(t for _, t in ranked)),
                          k=int(k) + 1, mode="OR", prune=prune)
        return (sel.filter(F.col("doc_id") != int(doc_id))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(int(k)))

    def match_ids(self, query: str, mode: str = "AND",
                  field: str | None = None,
                  min_should_match: int | None = None) -> DataFrame:
        """The FULL match set (doc_id only, no top-k cut) — what facet
        aggregation runs over: the doc ids of _scored_match_set, with the
        same AND/OR/msm predicate as search()."""
        return self._scored_match_set(query, mode, field,
                                      min_should_match).select("doc_id")

    def search_facets(self, query: str, docs: DataFrame,
                      facet_cols: list[str], mode: str = "AND",
                      doc_col: str = "doc_id",
                      min_should_match: int | None = None) -> DataFrame:
        """ES terms-aggregation analog: bucket counts of ``facet_cols``
        over the ENTIRE match set of ``query`` (not just the top k —
        exactly like ES aggs run on all hits). One distributed groupBy
        per facet over the doc_id-joined metadata; the match set is a
        semi-join-shaped doc_id column, so only the facet columns of
        matching docs are ever read (column pruning). Output
        (facet, value, n) ordered (facet asc, n desc, value asc) — the
        ES bucket order, made total for determinism."""
        ids = self.match_ids(query, mode, min_should_match=min_should_match)
        joined = docs.select(
            F.col(doc_col).alias("doc_id"), *facet_cols
        ).join(ids, "doc_id")
        parts = [
            joined.groupBy(F.col(c).alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(c).alias("facet"), "value", "n")
            for c in facet_cols
        ]
        cur = parts[0]
        for pdf in parts[1:]:
            cur = cur.unionByName(pdf)
        return cur.orderBy(F.asc("facet"), F.desc("n"), F.asc("value"))

    def rescore(self, query: str, phrase: str, k: int = 10,
                window_size: int = 50, query_weight: float = 1.0,
                rescore_weight: float = 1.0, mode: str = "AND",
                slop: int = 0) -> DataFrame:
        """ES ``rescore`` analog (the reference's query surface lives in
        Elasticsearch — configs/referenceSchema.json — which rescores a
        top window with a secondary query, typically ``match_phrase``):
        take the BM25 top ``window_size`` of ``query``, score ``phrase``
        against those docs with Lucene PhraseQuery semantics — idf summed
        over the phrase's term LIST (duplicates counted per occurrence),
        tf = phrase frequency, the same k1/b length saturation — and
        re-rank by

            query_weight * bm25 + rescore_weight * phrase_score

        Docs outside the window never enter (ES semantics); window docs
        without the phrase keep phrase_score = 0. ``slop`` > 0 rescores
        with the ordered proximity form instead of exact adjacency (tf =
        proximity-tuple count, phrase_search's slop semantics). Requires
        a positional index (phrase_search).

        Scale shape: the window is <= window_size rows, so everything
        derived from it is broadcast-sized. The phrase match is the
        class-pruned positional decode phrase_search already does; its
        output and the one-term doc_len decode are both cut down to the
        window by a broadcast left-semi join BEFORE the outer join, so no
        corpus-sized side ever builds a hash table."""
        # Two window shapes, picked by how much the window's salt classes
        # can prune the positional decode (same-window A/B at sf0.1: a
        # 50-doc window covers 31/64 classes — the cut saves ~2% there
        # but costs two extra driver round-trips; at nb_max=256 the same
        # window covers <= 20% of classes and the decode cut dominates):
        #   * window_size <= nb_max/4 — MATERIALIZE the window (bounded
        #     <= window_size rows), derive its classes on the driver, and
        #     restrict the phrase + doc_len decodes to those classes;
        #   * otherwise — keep the window lazy (no extra jobs) and decode
        #     all AND-feasible classes, the pre-optimization shape.
        use_classes = (int(window_size) <= self.nb_max // 4
                       and self.n_docs >= self.pos_classes_min_docs)
        if use_classes:
            win_rows = self.search(query, k=window_size, mode=mode).collect()
            if not win_rows:
                return self._empty_df("doc_id long, score double")
            win = self._rows_df(
                [(int(r["doc_id"]), float(r["score"])) for r in win_rows])
        else:
            win = self.search(query, k=window_size, mode=mode)
        prefix, n_docs, avgdl = self._resolve_field(None)
        pterms = [prefix + t
                  for t in analyze_query_py(phrase, self.analyzer)]
        qw, rw = float(query_weight), float(rescore_weight)

        def rank(df: DataFrame) -> DataFrame:
            return df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

        passthrough = win.select(
            "doc_id", F.round(F.lit(qw) * F.col("score"),
                              ROUND_DECIMALS).alias("score"))
        if not pterms:
            return rank(passthrough)
        meta = self._meta(sorted(set(pterms)))
        if meta.empty or set(meta["term"].unique()) != set(pterms):
            # a phrase term absent from the corpus => no phrase matches
            return rank(passthrough)
        # Lucene-faithful df (metadata counts, superseded postings included
        # until fold — same caveat as search()); idf summed per OCCURRENCE
        term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
        idf_sum = sum(self._idf(term_df[t], n_docs) for t in pterms)
        win_classes = None
        if use_classes:
            # salt classes of the materialized window, derived driver-side
            # with the parity-pinned hash (as highlight does)
            win_classes = sorted({pmod(xxh64_long(int(r["doc_id"])),
                                       self.nb_max) for r in win_rows})
        win_ids = F.broadcast(win.select("doc_id"))
        ph = (self.phrase_search(phrase, slop=slop,
                                 within_classes=win_classes)
              .join(win_ids, "doc_id", "left_semi"))
        # doc_len: decode ONE phrase term's postings (every phrase doc
        # contains every phrase term), restricted to the window's salt
        # classes at the block level when those are known,
        # window-restricted, tombstone-aware
        dl = self._decode(
            [pterms[0]],
            None if win_classes is None else self._keys_for_classes(
                meta[meta["term"] == pterms[0]], win_classes))
        dl = (dl.join(win_ids, "doc_id", "left_semi")
              .groupBy("doc_id").agg(F.max("doc_len").alias("doc_len")))
        ptf = F.col("phrase_tf").cast("double")
        sat = ptf * (BM25_K1 + 1.0) / (
            ptf + BM25_K1 * (1.0 - BM25_B
                             + BM25_B * F.col("doc_len") / F.lit(avgdl)))
        sec = (ph.join(dl, "doc_id")
               .select("doc_id", (F.lit(idf_sum) * sat).alias("sec")))
        combined = win.join(F.broadcast(sec), "doc_id", "left").select(
            "doc_id",
            F.round(F.lit(qw) * F.col("score")
                    + F.lit(rw) * F.coalesce(F.col("sec"), F.lit(0.0)),
                    ROUND_DECIMALS).alias("score"))
        return rank(combined)

    def _scored_match_set(self, query: str, mode: str = "AND",
                          field: str | None = None,
                          min_should_match: int | None = None
                          ) -> DataFrame:
        """Full rounded (doc_id, score) BM25 match set — no top-k cut and
        NO block-max pruning, because every consumer (function_score,
        boosting, dis_max, match_ids) applies a per-document transform or
        needs every match, which voids the per-class score upper bounds.
        Exhaustive decode, same tombstone/df/msm semantics as search()."""
        prefix, n_docs, avgdl = self._resolve_field(field)
        terms = sorted(
            {prefix + t for t in analyze_query_py(query, self.analyzer)}
        )
        empty = self._empty_df("doc_id long, score double")
        if not terms or n_docs == 0:
            return empty
        meta = self._meta(terms)
        if meta.empty:
            return empty
        found = set(meta["term"].unique())
        is_and = mode.upper() == "AND"
        if is_and and found != set(terms):
            return empty
        msm = 0 if is_and else max(1, int(min_should_match or 1))
        if msm > len(found):
            return empty  # fewer matchable terms than required
        term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
        groups = self._term_groups(
            dict.fromkeys(found, "must" if is_and else "should"), term_df,
            n_docs, avgdl)
        return self._bm25(meta, groups, msm, None)

    def count(self, query: str, mode: str = "AND",
              field: str | None = None,
              min_should_match: int | None = None) -> DataFrame:
        """ES ``_count`` API: the match-set size without ranking — one
        row (count). Rides match_ids (exhaustive by definition: counting
        needs every match, top-k pruning is inapplicable); the plan is
        the match semi-shape plus a single scalar aggregate."""
        ids = self.match_ids(query, mode, field=field,
                             min_should_match=min_should_match)
        return ids.agg(F.count(F.lit(1)).cast("long").alias("count"))

    def describe(self) -> DataFrame:
        """ES ``_cat/indices`` / ``_stats`` analog: one row of index
        health, METADATA-ONLY (the docs table, the segment columns
        minus the vb binaries, and the loaded manifest — no posting
        bytes decoded): live/deleted doc counts, avgdl, delta
        generations, term/block/posting counts, layout knobs. The
        operational check a 10^12-file deployment runs before and after
        every ingest window."""
        docs = self.spark.read.parquet(pjoin(self.path, "docs"))
        if "deleted" in docs.columns:
            docs = docs.filter(~F.col("deleted"))
        seg_stats = (
            self._all_segments()
            .agg(F.countDistinct("term").alias("n_terms"),
                 F.count(F.lit(1)).alias("n_blocks"),
                 F.sum("count").alias("n_postings"))
        )
        doc_stats = docs.agg(F.count(F.lit(1)).alias("docs_live"))
        # the docs table holds only LIVE rows (apply_upserts anti-joins
        # replaced/deleted ids out); true deletions = tombstoned ids with
        # no live row — tombstones that merely superseded an upsert have
        # a live replacement
        if not self.generations:
            del_stats = self.spark.range(1).select(
                F.lit(0).cast("long").alias("docs_deleted"))
        else:
            tomb = self.spark.read.parquet(*(
                pjoin(self.path, "delta", f"gen={g}", "tombstones")
                for g in self.generations)).select("doc_id").distinct()
            del_stats = (
                tomb.join(docs.select("doc_id").distinct(),
                          "doc_id", "left_anti")
                .agg(F.count(F.lit(1)).alias("docs_deleted"))
            )
        return (
            doc_stats.crossJoin(seg_stats).crossJoin(del_stats)
            .select(
                F.lit(self.n_docs).cast("long").alias("n_docs"),
                F.col("docs_live").cast("long"),
                F.col("docs_deleted").cast("long"),
                F.round(F.lit(self.avgdl), 4).alias("avgdl"),
                F.lit(len(self.generations)).cast("int")
                .alias("delta_generations"),
                F.col("n_terms").cast("long"),
                F.col("n_blocks").cast("long"),
                F.col("n_postings").cast("long"),
                F.lit(self.n_buckets).cast("int").alias("n_buckets"),
                F.lit(self.nb_max).cast("int").alias("nb_max"),
                F.lit(bool(self.positions)).alias("positions"),
                F.lit(sorted(self.field_stats) if self.field_stats else []
                      ).alias("fields"),
            )
        )

    def has_child(self, child_query: str, relations: DataFrame,
                  k: int = 10, score_mode: str = "max",
                  mode: str = "AND", child_col: str = "doc_id",
                  parent_col: str = "parent_id") -> DataFrame:
        """ES ``has_child`` joining query: return PARENT ids whose
        children match ``child_query``, scored by folding the children's
        BM25 — score_mode in {max, sum, avg, none} (ES's score modes;
        'none' scores every parent 0.0 like ES's default). ``relations``
        maps child doc_id → parent_id (the join-field table; ES stores
        the same mapping in its join field).

        Plan: the child match set (exhaustive — the fold over children
        voids per-class bounds) joins the relation column-pruned to
        (child, parent), then ONE partial-aggregable parent fold. The
        relation join shuffles on doc_id, bounded by matching children —
        never all children. Output (parent_id, score)."""
        if score_mode not in ("max", "sum", "avg", "none"):
            raise ValueError(f"unknown score_mode {score_mode!r}")
        scored = self._scored_match_set(child_query, mode)
        rel = relations.select(F.col(child_col).alias("doc_id"),
                               F.col(parent_col).alias("parent_id"))
        joined = scored.join(rel, "doc_id")
        agg = {"max": F.max("score"), "sum": F.sum("score"),
               "avg": F.avg("score"),
               "none": F.lit(0.0)}[score_mode]
        return (
            joined.groupBy("parent_id")
            .agg(F.round(agg, ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("parent_id"))
            .limit(k)
        )

    def has_parent(self, parent_query: str, relations: DataFrame,
                   k: int = 10, score: bool = False,
                   mode: str = "AND", child_col: str = "doc_id",
                   parent_col: str = "parent_id") -> DataFrame:
        """ES ``has_parent`` joining query: return CHILD ids whose parent
        matches ``parent_query``. ``score=False`` (the ES default) gives
        every child 0.0; ``score=True`` propagates the parent's BM25 to
        each of its children. One broadcast-friendly join of the parent
        match/score set into the relation. Output (doc_id, score)."""
        scored = self._scored_match_set(parent_query, mode)
        if not score:
            scored = scored.select("doc_id", F.lit(0.0).alias("score"))
        rel = relations.select(F.col(child_col).alias("child_id"),
                               F.col(parent_col).alias("doc_id"))
        return (
            rel.join(scored, "doc_id")
            .select(F.col("child_id").alias("doc_id"),
                    F.round(F.col("score"), ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def constant_score(self, query: str, boost: float = 1.0, k: int = 10,
                       mode: str = "AND",
                       field: str | None = None) -> DataFrame:
        """ES constant_score query: every matching doc scores exactly
        ``boost`` — the filter-to-query wrapper (no BM25 computed at
        all; the plan is match_ids + a literal). Ties break by doc_id
        like everywhere else, so the top-k is the first k doc_ids."""
        ids = self.match_ids(query, mode, field=field)
        return (
            ids.select("doc_id",
                       F.round(F.lit(float(boost)), ROUND_DECIMALS)
                       .alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def boosting(self, positive: str, negative: str,
                 negative_boost: float = 0.5, k: int = 10,
                 mode: str = "AND",
                 field: str | None = None) -> DataFrame:
        """ES boosting query: rank by the positive query's BM25; any doc
        ALSO matching the negative query (OR over its terms, like ES's
        inner query default) keeps its rank signal but demoted —
        score · negative_boost. Exhaustive over the positive match set
        (the demotion multiplier voids block-max bounds: a demoted seed
        doc can fall below an unseen undemoted one); the negative side
        is a match_ids semi-shape joined as an existence flag."""
        pos = self._scored_match_set(positive, mode, field)
        neg = self.match_ids(negative, "OR", field=field) \
            .withColumn("neg", F.lit(True))
        nb = float(negative_boost)
        demoted = pos.join(neg, "doc_id", "left").select(
            "doc_id",
            F.round(
                F.when(F.col("neg"), F.col("score") * F.lit(nb))
                .otherwise(F.col("score")), ROUND_DECIMALS).alias("score"))
        return (demoted.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k))

    def dis_max(self, queries: list[str], tie_breaker: float = 0.0,
                k: int = 10, field: str | None = None) -> DataFrame:
        """ES dis_max query: per doc, the BEST subquery score plus
        ``tie_breaker`` times the others —

            max(s_i) + tie_breaker · (Σ s_i − max(s_i))

        Each subquery scores as an OR match (the ES match default). One
        scored set per subquery, a no-shuffle union, one (doc) agg of
        max+sum — never a per-doc loop. Exhaustive (the max across
        subqueries is not boundable by any single subquery's block
        maxima)."""
        tb = float(tie_breaker)
        empty = self._empty_df("doc_id long, score double")
        sets = [self._scored_match_set(q, "OR", field) for q in queries]
        if not sets:
            return empty
        cur = sets[0]
        for s in sets[1:]:
            cur = cur.unionByName(s)
        combined = (
            cur.groupBy("doc_id")
            .agg(F.max("score").alias("best"), F.sum("score").alias("tot"))
            .select(
                "doc_id",
                F.round(F.col("best")
                        + F.lit(tb) * (F.col("tot") - F.col("best")),
                        ROUND_DECIMALS).alias("score"))
        )
        return (combined.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k))

    def function_score(self, query: str, docs: DataFrame, factor_col: str,
                       k: int = 10, mode: str = "AND", factor: float = 1.0,
                       modifier: str = "log1p",
                       boost_mode: str = "multiply",
                       doc_col: str = "doc_id",
                       field: str | None = None) -> DataFrame:
        """ES ``function_score`` / ``field_value_factor`` analog: top-k by

            bm25 <boost_mode> modifier(factor * doc[factor_col])

        with modifier in {log1p, sqrt, none} and boost_mode in
        {multiply, sum} — the recency/popularity boost shape the
        reference's ES queries get for free from the serving index.

        Block-max pruning is OFF here by construction: a per-document
        multiplier voids the per-class score upper bounds (a low-BM25 doc
        with a huge field value can out-rank every seed), so this scores
        the FULL match set — exhaustive decode like match_ids — joins the
        boost column (column-pruned to (doc_id, factor_col)), and takes
        top-k via orderBy+limit (TakeOrderedAndProject: per-partition
        heaps, k rows to the driver)."""
        if modifier not in ("log1p", "sqrt", "none"):
            raise ValueError(f"unknown modifier {modifier!r}")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(f"unknown boost_mode {boost_mode!r}")
        scored = self._scored_match_set(query, mode, field)
        fac = F.col(factor_col).cast("double") * F.lit(float(factor))
        boost = {"log1p": F.log1p(fac), "sqrt": F.sqrt(fac),
                 "none": fac}[modifier]
        boosts = docs.select(F.col(doc_col).alias("doc_id"),
                             boost.alias("boost"))
        combined = (F.col("score") * F.col("boost")
                    if boost_mode == "multiply"
                    else F.col("score") + F.col("boost"))
        return (
            scored.join(boosts, "doc_id")
            .select("doc_id",
                    F.round(combined, ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_histogram(self, query: str, docs: DataFrame, field: str,
                         interval: float, mode: str = "AND",
                         doc_col: str = "doc_id") -> DataFrame:
        """ES histogram aggregation over the ENTIRE match set (like
        search_facets: aggs see all hits, not the top k): buckets of
        ``field`` at fixed ``interval``, key = floor(value/interval) ·
        interval (the ES bucket key), empty buckets omitted (ES
        min_doc_count=1 form). One semi-join-shaped match set + one
        groupBy; the metadata scan is column-pruned to (doc_id, field).
        Output (bucket double, n long) ordered by bucket."""
        iv = float(interval)
        if iv <= 0:
            raise ValueError("interval must be positive")
        ids = self.match_ids(query, mode)
        # docs missing the field are ignored (ES histogram semantics)
        joined = docs.select(F.col(doc_col).alias("doc_id"),
                             F.col(field).cast("double").alias("v")
                             ).filter(F.col("v").isNotNull()
                                      ).join(ids, "doc_id")
        return (
            joined.select(
                (F.floor(F.col("v") / F.lit(iv)) * F.lit(iv)).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket")
        )

    def search_stats(self, query: str, docs: DataFrame, field: str,
                     mode: str = "AND", doc_col: str = "doc_id") -> DataFrame:
        """ES stats aggregation over the entire match set: one row of
        (count, min, max, sum, avg) for ``field`` — a single partial-
        aggregable pass, no shuffle wider than one row per partition.
        sum/avg rounded to ROUND_DECIMALS for oracle-stable compares."""
        ids = self.match_ids(query, mode)
        # docs missing the field are ignored (ES stats counts docs WITH
        # the field, and min/max/sum/avg would skip them anyway)
        joined = docs.select(F.col(doc_col).alias("doc_id"),
                             F.col(field).cast("double").alias("v")
                             ).filter(F.col("v").isNotNull()
                                      ).join(ids, "doc_id")
        return joined.agg(
            F.count(F.lit(1)).alias("count"),
            F.min("v").alias("min"),
            F.max("v").alias("max"),
            F.round(F.sum("v"), ROUND_DECIMALS).alias("sum"),
            F.round(F.avg("v"), ROUND_DECIMALS).alias("avg"),
        )

    def search_cardinality(self, query: str, docs: DataFrame, field: str,
                           mode: str = "AND", doc_col: str = "doc_id",
                           exact: bool = False,
                           rsd: float = 0.05) -> DataFrame:
        """ES cardinality aggregation: distinct count of ``field`` over
        the match set. Default is the HLL++ sketch
        (approx_count_distinct, max relative error ``rsd``) — the SAME
        algorithm ES's cardinality agg uses, mergeable across partitions
        with fixed sketch memory (the reason exact distinct is the wrong
        default at 100 TB). ``exact=True`` switches to a true distinct
        (one extra shuffle) for small sets / oracle gates.
        Output: one row (value long)."""
        ids = self.match_ids(query, mode)
        joined = docs.select(F.col(doc_col).alias("doc_id"), field
                             ).join(ids, "doc_id")
        agg = (F.count_distinct(F.col(field)) if exact
               else F.approx_count_distinct(F.col(field), rsd))
        return joined.agg(agg.cast("long").alias("value"))

    def significant_terms(self, query: str, docs: DataFrame, k: int = 10,
                          mode: str = "AND", text_col: str = "text",
                          doc_col: str = "doc_id",
                          min_doc_count: int = 1) -> DataFrame:
        """ES significant_terms aggregation (JLH heuristic): terms
        over-represented in the MATCH SET (foreground) relative to the
        whole index (background) —

            JLH = (fg% − bg%) · (fg% / bg%)

        with fg% = fg/|matches|, bg% = df/n_docs. The query's own terms
        are excluded (ES does the same — they are trivially significant).

        Sides are sourced the scale-right way round: background df comes
        from the AT-REST per-term stats table (O(vocabulary) metadata, no
        corpus scan — reflects the base build, like ES's shard-level
        background), while the foreground re-analyzes ONLY the matched
        documents with the index's own vectorized analyzer (distinct
        terms per doc — document frequency, not term frequency). The one
        scalar driver value is |matches| (a count aggregate). Output
        (term, fg, bg, score), top-k by score desc / term asc."""
        if self.field_stats:
            # the at-rest stats table keys composite field\x1fterm rows on
            # a fielded index — joining them against the unprefixed
            # foreground would silently yield nothing; refuse loudly
            raise ValueError(
                "significant_terms supports unfielded indexes; per-field "
                "background models are unimplemented"
            )
        ids = self.match_ids(query, mode)
        n_fg = ids.count()
        empty = self._empty_df("term string, fg long, bg long, score double")
        if n_fg == 0:
            return empty
        # Join the match set into docs BEFORE the analyzer/explode
        # (VERDICT r5 #1): Catalyst never pushes a join below a Generate,
        # so the previous analyze-then-join form tokenized the ENTIRE
        # corpus and only then discarded non-matches — a full-corpus
        # scan+tokenize per aggregation at scale. With the join first,
        # only the matched documents are re-analyzed.
        matched = docs.select(
            F.col(doc_col).alias("doc_id"), F.col(text_col).alias("_fg_text")
        ).join(ids, "doc_id")
        fg = (
            matched.select(
                F.explode(F.array_distinct(
                    analyzer_column(F.col("_fg_text"), self.analyzer)
                )).alias("term"),
            )
            .groupBy("term").agg(F.count(F.lit(1)).alias("fg"))
        )
        bg = (
            self.spark.read.parquet(pjoin(self.path, self.stats_file))
            .groupBy("term").agg(F.sum("df").alias("bg"))
        )
        qterms = sorted(set(analyze_query_py(query, self.analyzer)))
        fgp = F.col("fg").cast("double") / F.lit(float(n_fg))
        bgp = F.col("bg").cast("double") / F.lit(float(self.n_docs))
        score = (fgp - bgp) * (fgp / bgp)
        return (
            fg.join(bg, "term")
            .filter(~F.col("term").isin(qterms)
                    & (F.col("fg") >= int(min_doc_count)))
            .select("term", "fg", "bg",
                    F.round(score, ROUND_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def search_synonyms(self, query: str, synonyms: dict[str, list[str]],
                        k: int = 10, mode: str = "AND",
                        field: str | None = None) -> DataFrame:
        """ES synonym filter / Lucene SynonymQuery analog (the reference's
        index gets synonyms from the ES analysis chain —
        configs/referenceSchema.json): each analyzed query term expands to
        its synonym set, and the SET scores as ONE pseudo-term — per doc
        tf = Σ member tfs, df = max member df (Lucene SynonymWeight's
        docFreq), one idf per set. AND mode requires every SET matched
        (by any member), not every member; a set with no member in the
        corpus makes an AND query empty and is skipped under OR.

        Plan shape: each set is one match group holding one score group
        of its present members (_bm25_kernel sums their tfs before
        saturation), so the query runs the BM25 executor search() uses —
        on the driver for a local index under driver_max_postings, else
        per salt-class group — over exactly the member terms' blocks.
        Exhaustive: no block-max pruning."""
        prefix, n_docs, avgdl = self._resolve_field(field)
        base = analyze_query_py(query, self.analyzer)
        sets: list[set[str]] = []
        seen: set[str] = set()
        for t in base:
            if t in seen:
                continue
            seen.add(t)
            members = {t}
            for s in synonyms.get(t, []):
                members.update(analyze_query_py(s, self.analyzer))
            sets.append({prefix + m for m in members})
        empty = self._empty_df("doc_id long, score double")
        if not sets or n_docs == 0:
            return empty
        meta = self._meta(sorted(set().union(*sets)))
        if meta.empty:
            return empty
        df_by_term = {t: int(g["count"].sum())
                      for t, g in meta.groupby("term")}
        is_and = mode.upper() == "AND"
        groups = []
        for members in sets:
            present = sorted(members & set(df_by_term))
            if not present:
                if is_and:
                    return empty  # a whole set absent => no AND match
                continue
            idf = self._idf(max(df_by_term[t] for t in present), n_docs)
            groups.append(("must" if is_and else "should",
                           [(idf, avgdl, present)]))
        if not groups:
            return empty
        return self._as_df(self._bm25(meta, groups, 0 if is_and else 1, k))

    def search_multi(self, query: str, weights: dict[str, float],
                     k: int = 10, mode: str = "AND") -> DataFrame:
        """Weighted multi-field BM25 top-k over the persisted fielded
        store — the ES ``multi_match`` (most_fields) analog for the
        reference schema's boosted per-field indexes
        (configs/referenceSchema.json:50-59): each queried field scores
        with its OWN norms (df, docCount, avgdl from the manifest's
        field_stats) and the document score is the boost-weighted sum
        across fields. mode="AND" requires every query term to match in
        at least one queried field (ES most_fields + operator=and);
        "OR" keeps any doc with any (field, term) hit.

        Plan shape: each base term is one match group whose score groups
        are its composite ``field\x1fterm`` keys, weighted boost·idf over
        the field's docCount and saturated with the field's avgdl; the
        query runs the BM25 executor search() uses (_bm25), exhaustive.
        Fields whose delta field_stats say n_docs == 0 (fully deleted)
        contribute nothing."""
        if not self.field_stats:
            raise ValueError(
                "search_multi requires an index built with "
                "build_segments(fields=...); this index is unfielded"
            )
        unknown = set(weights) - set(self.field_stats)
        if unknown:
            raise KeyError(
                f"unknown fields {sorted(unknown)}; index has "
                f"{sorted(self.field_stats)}"
            )
        base_terms = sorted(set(analyze_query_py(query, self.analyzer)))
        empty = self._empty_df("doc_id long, score double")
        fparams = {}
        for f, w in weights.items():
            fs = self.field_stats[f]
            if int(fs["n_docs"]) > 0:
                fparams[f] = (float(w), int(fs["n_docs"]),
                              float(fs["avgdl"]) or 1.0)
        if not base_terms or not fparams:
            return empty
        comp = sorted(f + FIELD_SEP + t for f in fparams for t in base_terms)
        meta = self._meta(comp)
        if meta.empty:
            return empty
        is_and = mode.upper() == "AND"
        # Lucene-faithful df per composite key (superseded postings count
        # until fold, same as search()); idf uses the FIELD's docCount
        by_base: dict[str, list] = {}
        for c, g in meta.groupby("term"):
            f, t = c.split(FIELD_SEP, 1)
            w, n_f, avgdl_f = fparams[f]
            by_base.setdefault(t, []).append(
                (w * self._idf(int(g["count"].sum()), n_f), avgdl_f, [c]))
        if is_and and set(by_base) != set(base_terms):
            return empty  # a required term is absent from every field
        groups = [("must" if is_and else "should", by_base[t])
                  for t in sorted(by_base)]
        return self._as_df(self._bm25(meta, groups, 0 if is_and else 1, k))

    def prefix_postings(self, prefix: str,
                        field: str | None = None) -> DataFrame:
        """Live postings of every term starting with ``prefix`` — the ES
        ``prefix`` query's expansion stage, as a term-RANGE scan over the
        segment store: ``term.startswith(prefix)`` reaches parquet as a
        pushed StringStartsWith filter, and because segment files are
        term-SORTED (segments.py stage 2), row-group min/max statistics
        prune everything outside the range — the scan decodes only
        matching blocks even though bucket directories (term-HASH
        partitioned) cannot pre-select. On a fielded index the range is
        scoped to ``field`` (default: the manifest's default_field) via
        the composite key prefix. Output (term, doc_id, tf), term
        stripped of the field prefix, ordered for determinism."""
        fprefix, _, _ = self._resolve_field(field)
        full = fprefix + prefix
        decoded = self._decoded(
            self._all_segments().filter(F.col("term").startswith(full)))
        term_out = (
            F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
            else F.col("term")
        )
        return (
            decoded.select(term_out.alias("term"), "doc_id", "tf")
            .orderBy("term", "doc_id")
        )

    def explain(self, query: str, doc_id: int) -> DataFrame:
        """The ES explain API over the persisted store: per-term BM25
        breakdown (term, tf, df, doc_len, idf, partial) of one doc's
        score. Decodes only the query terms' blocks, filters to the one
        doc_id, and reuses the logical explain kernel with the store's
        Lucene-faithful df (block-count sums) and manifest norms — so
        sum(partial) == the rounded-partial sum behind search()'s score
        for that doc."""
        from .search_ext import explain_score

        prefix, n_docs, avgdl = self._resolve_field(None)
        terms = sorted(
            {prefix + t for t in analyze_query_py(query, self.analyzer)}
        )
        empty = self._empty_df("term string, tf long, df long, doc_len long, "
                               "idf double, partial double")
        if not terms or n_docs == 0:
            return empty
        meta = self._meta(terms)
        if meta.empty:
            return empty
        found = sorted(set(meta["term"].unique()))
        term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
        decoded = self._decode(found, None)
        stats = self.spark.createDataFrame(
            [(t, d) for t, d in term_df.items()], "term string, df long")
        return explain_score(
            decoded.select("term", "doc_id", "tf", "doc_len"), stats,
            n_docs, avgdl, query, doc_id, analyzer=self.analyzer)

    def collapse(self, query: str, docs: DataFrame, group_col: str,
                 k: int = 10, mode: str = "OR",
                 doc_col: str = "doc_id") -> DataFrame:
        """ES field collapsing over the persisted store: best hit per
        ``docs[group_col]``, groups ranked by that best score. Like
        facets, collapse aggregates over the ENTIRE match set, so
        block-max pruning is inapplicable by definition — the full scored
        set (_scored_match_set) feeds the shared argmax kernel
        (search_ext.collapse_scored). The ``docs`` join carries only the
        (doc_id, group_col) columns of matching docs."""
        from .search_ext import collapse_scored

        return collapse_scored(self._scored_match_set(query, mode), docs,
                               group_col, k, doc_col=doc_col)

    def suggest(self, prefix: str, k: int = 10,
                field: str | None = None) -> DataFrame:
        """ES completion/term suggester: top-k dictionary terms with the
        given prefix, ranked by document frequency (df desc, term asc).
        METADATA-ONLY — df is the sum of block posting counts (the same
        Lucene-faithful approximate-until-fold df search() scores with),
        so no posting bytes are ever decoded: the scan reads the (term,
        count) columns of the pushed StringStartsWith range over
        term-sorted row groups, aggregates once, and TakeOrderedAndProject
        cuts k. Output (term, df)."""
        fprefix, _, _ = self._resolve_field(field)
        segs = self._all_segments().filter(
            F.col("term").startswith(fprefix + prefix))
        term_out = (
            F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
            else F.col("term")
        )
        return (
            segs.groupBy("term").agg(F.sum("count").alias("df"))
            .select(term_out.alias("term"), F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(k))
        )

    def _fuzzy_expansions(self, term: str, max_edits: int,
                          field: str | None,
                          max_expansions: int) -> tuple[str, list[str]]:
        """(field_prefix, expansion terms within levenshtein <= max_edits)
        — the ES fuzzy query's term expansion, over the segment store's
        term dictionary. The scan is metadata-only (term column, binary
        postings never read) and the edit distance runs JVM-side
        (F.levenshtein — no UDF), behind a cheap pushable length
        pre-filter. Expansions are capped like ES (max_expansions,
        closest-first: edit distance, then term) so a pathological
        neighborhood cannot explode the decode set."""
        fprefix, _, _ = self._resolve_field(field)
        segs = self._all_segments()
        if fprefix:
            segs = segs.filter(F.col("term").startswith(fprefix))
        base = (F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
                else F.col("term"))
        dist = F.levenshtein(F.col("t"), F.lit(term))
        cand = (
            segs.select(base.alias("t"))
            .filter(F.length("t").between(len(term) - max_edits,
                                          len(term) + max_edits))
            .select("t", dist.alias("d"))
            .filter(F.col("d") <= max_edits)
            .distinct()
            .orderBy("d", "t")
            .limit(max_expansions)
        )
        return fprefix, [r["t"] for r in cand.collect()]

    def fuzzy_postings(self, term: str, max_edits: int = 1,
                       field: str | None = None,
                       max_expansions: int = 50) -> DataFrame:
        """Live postings of every term within ``max_edits`` levenshtein
        edits of ``term`` (the ES fuzzy query's expansion). Output
        (term, doc_id, tf) with the field prefix stripped, ordered."""
        fprefix, exp = self._fuzzy_expansions(term, max_edits, field,
                                              max_expansions)
        if not exp:
            return self._empty_df("term string, doc_id long, tf long")
        decoded = self._decode(sorted(fprefix + t for t in exp), None)
        term_out = (
            F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
            else F.col("term")
        )
        return (
            decoded.select(term_out.alias("term"), "doc_id", "tf")
            .orderBy("term", "doc_id")
        )

    def _regexp_expansions(self, pattern: str, field: str | None,
                           max_expansions: int) -> tuple[str, list[str]]:
        """ES regexp-query expansion: FULL-match (the ES semantics —
        patterns are implicitly anchored) over the term dictionary.
        ES intersects a regex automaton with the FST; the analog here is
        a JVM regexp over the distinct-term column of a metadata-only
        scan (binary postings never read) — a general regex cannot push
        down, but the term dictionary is orders of magnitude smaller
        than the postings. Capped term-ascending (deterministic) like
        ES max_expansions."""
        fprefix, _, _ = self._resolve_field(field)
        segs = self._all_segments()
        if fprefix:
            segs = segs.filter(F.col("term").startswith(fprefix))
        base = (F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
                else F.col("term"))
        cand = (
            segs.select(base.alias("t"))
            .filter(F.regexp_like(F.col("t"), F.lit(f"^(?:{pattern})$")))
            .distinct()
            .orderBy("t")
            .limit(max_expansions)
        )
        return fprefix, [r["t"] for r in cand.collect()]

    def regexp_postings(self, pattern: str, field: str | None = None,
                        max_expansions: int = 50) -> DataFrame:
        """Live postings of every term fully matching ``pattern`` (the
        ES regexp query's expansion). Output (term, doc_id, tf) with the
        field prefix stripped, ordered. Constant-score expansion like
        prefix; score with the fuzzy_search OR shape if ranking is
        needed."""
        fprefix, exp = self._regexp_expansions(pattern, field,
                                               max_expansions)
        if not exp:
            return self._empty_df("term string, doc_id long, tf long")
        decoded = self._decode(sorted(fprefix + t for t in exp), None)
        term_out = (
            F.expr(f"substring(term, {len(fprefix) + 1})") if fprefix
            else F.col("term")
        )
        return (
            decoded.select(term_out.alias("term"), "doc_id", "tf")
            .orderBy("term", "doc_id")
        )

    def fuzzy_search(self, term: str, k: int = 10, max_edits: int = 1,
                     field: str | None = None,
                     max_expansions: int = 50) -> DataFrame:
        """BM25 top-k over the fuzzy expansion set, scored as an OR
        query — each expanded term contributes with its OWN df (idf),
        so exact-form matches naturally outrank rare typo forms the way
        ES's blended rewrite intends. Rank-identical to
        search(" ".join(expansions), mode="OR", prune=False)."""
        prefix, n_docs, avgdl = self._resolve_field(field)
        empty = self._empty_df("doc_id long, score double")
        if n_docs == 0:
            return empty
        _, exp = self._fuzzy_expansions(term, max_edits, field,
                                        max_expansions)
        if not exp:
            return empty
        comp = sorted(prefix + t for t in exp)
        meta = self._meta(comp)
        if meta.empty:
            return empty
        term_df = {t: int(g["count"].sum()) for t, g in meta.groupby("term")}
        groups = self._term_groups(dict.fromkeys(term_df, "should"),
                                   term_df, n_docs, avgdl)
        return self._as_df(self._bm25(meta, groups, 1, k))

    def prefix_search(self, prefix: str, k: int = 10,
                      field: str | None = None) -> DataFrame:
        """Top-k docs matching any term with the given prefix (ES prefix
        query under its constant_score rewrite — no tf/idf): ranked by
        the number of DISTINCT matching terms, doc_id tiebreak."""
        return (
            self.prefix_postings(prefix, field)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_terms"))
            .orderBy(F.desc("n_terms"), F.asc("doc_id"))
            .limit(k)
        )

    def term_lookup(self, term: str, field: str | None = None) -> DataFrame:
        """Single-term postings fetch over the segment store (live docs).
        ``field`` scopes the lookup on a fielded index."""
        prefix, _, _ = self._resolve_field(field)
        decoded = self._decode([prefix + term], None)
        return decoded.select("doc_id", "tf").orderBy("doc_id")

    @staticmethod
    def _keys_for_classes(meta: pd.DataFrame,
                          classes: list[int]) -> set[tuple[str, int, int]]:
        keys: set[tuple[str, int, int]] = set()
        cls = np.asarray(classes)
        for (t, gen, nb_t), grp in meta.groupby(["term", "gen", "nb"]):
            nb_t = int(nb_t)
            have = set(grp["salt"].tolist())
            for s in np.unique(cls % nb_t):
                if int(s) in have:
                    keys.add((t, int(gen), int(s)))
        return keys


def search_sharded(indexes: "list[SegmentIndex]", query: str, k: int = 10,
                   mode: str = "AND",
                   min_should_match: int | None = None,
                   filter_ids: DataFrame | None = None) -> DataFrame:
    """ES alias / distributed-search analog: one BM25 top-k over N shard
    indexes that returns EXACTLY what a single index built over the union
    corpus would return. That is the property ES's coordinating node gets
    from its df-merging dfs_query_then_fetch mode — and the property a
    10^12-file build needs, because at that scale the index IS built as
    independent per-partition-range shards (the reference delegates this
    to the ES cluster; see BASELINE north rule's term-range partitioning
    + two-level merge).

    How exactness is preserved:
      * global stats are merged BEFORE scoring — n_docs = Σ shardᵢ.n_docs,
        avgdl = Σ(n_docsᵢ·avgdlᵢ)/Σ n_docsᵢ (i.e. total tokens over total
        docs), per-term df = Σ shard metadata counts — so idf and length
        norms are identical to the union index's;
      * each shard runs the BM25 executor (SegmentIndex._bm25) with
        those global stats and returns its exact top-k; AND-mode shards
        missing a query term are skipped outright (a doc matching ALL
        terms must find every term in its OWN shard);
      * ONE global top-k over the shards' top-k — exact because doc_ids
        are required to be globally unique across shards (the
        partitioned-build contract: disjoint id ranges per shard,
        recorded in each manifest's lineage), so every doc's score is
        complete in its own shard.

    Scale shape: per-shard work is the same metadata-pruned, column-pruned
    decode + score a single-shard query does (on the driver or
    distributed, each shard by its own admission); the union is at most
    k rows per shard. Shards are never copied or merged to serve a query.
    """
    if not indexes:
        raise ValueError("search_sharded needs at least one index")
    an = indexes[0].analyzer
    if any(ix.analyzer != an for ix in indexes):
        raise ValueError(
            "shards disagree on analyzer: "
            f"{sorted({ix.analyzer for ix in indexes})}"
        )
    if any(ix.field_stats for ix in indexes):
        raise ValueError(
            "search_sharded supports unfielded shards; fielded alias "
            "search needs per-field stat merging (unimplemented)"
        )
    terms = sorted(set(analyze_query_py(query, an)))
    empty = indexes[0]._empty_df("doc_id long, score double")
    if not terms:
        return empty
    is_and = mode.upper() == "AND"
    n_docs = sum(ix.n_docs for ix in indexes)
    if n_docs == 0:
        return empty
    avgdl = sum(ix.n_docs * ix.avgdl for ix in indexes) / n_docs
    term_df: dict[str, int] = {}
    metas = []
    for ix in indexes:
        meta = ix._meta(terms)
        metas.append(meta)
        for t, g in (() if meta.empty else meta.groupby("term")):
            term_df[t] = term_df.get(t, 0) + int(g["count"].sum())
    if not term_df or (is_and and set(term_df) != set(terms)):
        return empty  # AND needs every term somewhere in the union
    msm = None
    if not is_and and min_should_match is not None:
        msm = int(min_should_match)
        if msm <= 1:
            msm = None  # plain OR
        elif msm > len(term_df):
            return empty  # fewer matchable terms than required
    parts = []
    for ix, meta in zip(indexes, metas):
        if meta.empty:
            continue
        shard_terms = sorted(meta["term"].unique())
        if is_and and set(shard_terms) != set(terms):
            continue  # this shard cannot host an all-terms doc
        if msm is not None and len(shard_terms) < msm:
            continue  # a doc's terms live in ITS shard: < msm present
        groups = ix._term_groups(
            dict.fromkeys(shard_terms, "must" if is_and else "should"),
            term_df, n_docs, avgdl)
        parts.append(ix._as_df(ix._bm25(
            meta, groups, 0 if is_and else msm or 1, k,
            filter_ids=filter_ids)))
    if not parts:
        return empty
    cur = parts[0]
    for p in parts[1:]:
        cur = cur.unionByName(p)
    return cur.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
