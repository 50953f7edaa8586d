"""Segment store — salted, compressed, resumable posting segments.

From-scratch replacement for the Lucene segment machinery the reference
delegates to Elasticsearch (SURVEY.md §2.J; shard config it validates:
/root/reference/configs/referenceSchema.json:4-5). Design:

SALTED BLOCKING (hot-term skew, north_rule). Every posting gets a salt
``pmod(xxhash64(doc_id), nb_t)`` where ``nb_t`` is a power of two chosen
from the term's document frequency (df/TARGET_BLOCK, clipped to
[1, NB_MAX]). Hot terms like `return`/`the` therefore fan out across up to
NB_MAX independent encode groups — no single reducer ever sees a whole hot
term — while rare terms stay in one block. Because the salt function is
THE SAME for every term and the per-term counts are nested powers of two,
salt classes are ALIGNED across terms: global class g of one term overlaps
exactly class ``g % nb_t`` of another. That alignment is what turns the
salt into block-max metadata the query path can prune on (wand.py).

SEGMENT LAYOUT. One parquet row per (term, salt) block:
    (term, salt, nb, count, max_tf, min_dl, docs_vb, tfs_vb, dlens_vb,
     pos_vb)
- docs_vb: sorted doc_ids, delta + varbyte (codec.py)
- tfs_vb / dlens_vb: varbyte, aligned with docs_vb
- max_tf / min_dl: block-max metadata (block-max WAND, SURVEY.md §2.F).
  The BM25 tf-normalization factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
  is increasing in tf and decreasing in dl, so partial(max_tf, min_dl)
  evaluated with the QUERY-TIME avgdl is a safe upper bound for every
  posting in the block — even after incremental deltas shift avgdl
  (a baked-in build-time bound would not be).
Rows are range-partitioned and sorted by term inside each bucket so
parquet row-group min/max statistics prune term lookups; buckets
(``pmod(xxhash64(term), n_buckets)``) prune at directory level.

RESUMABILITY (north_rule). Three committed stages, manifest-written-last:
  stage 1  staging postings parquet (partitioned by bucket) + stats
           → _staging_manifest.json
  stage 2  per-bucket encode jobs → segments/bucket=i/ + manifest_bucket_i
  stage 3  global index.json (n_docs, avgdl, lineage, bucket manifests)
A killed build restarts from the last committed manifest: completed
buckets are skipped (their manifest exists), half-written segment dirs are
rebuilt. Reference analog: Kafka consumer-group offsets + the schema
health gate (/root/reference/cmd/content-rw-elasticsearch/main.go:81-86,
pkg/es/service.go:51-106).

STORAGE. All manifest/directory bookkeeping goes through the storage
abstraction (storage.py) — plain paths use the driver-local filesystem,
URIs (hdfs://, s3a://, file://) the JVM Hadoop FileSystem — so the
resumability contract holds on a real cluster, not just a shared POSIX
tree. Directory swaps are crash-safe (old dir renamed aside before the
new one lands; see storage.swap_dir/restore_swap).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import storage
from ..functions.hashing import xxh64_long_np
from ..storage import join as pjoin
from . import codec
from . import postings as P

NB_MAX = 256          # global aligned salt classes (power of two)
TARGET_BLOCK = 4096   # target postings per block

SEGMENT_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", IntegerType()),
        StructField("nb", IntegerType()),
        StructField("count", LongType()),
        StructField("max_tf", LongType()),
        StructField("min_dl", LongType()),
        StructField("docs_vb", BinaryType()),
        StructField("tfs_vb", BinaryType()),
        StructField("dlens_vb", BinaryType()),
        # within-doc delta + varbyte token positions, concatenated in
        # doc_id order; tf gives the per-doc boundaries. Empty when the
        # index is built without positions.
        StructField("pos_vb", BinaryType()),
    ]
)

SEGMENT_COLS = [f.name for f in SEGMENT_SCHEMA.fields]

# on-disk layout including the bucket partition column; used for explicit-
# schema reads so EMPTY delta segment dirs (delete-only batches) stay
# readable (schema inference has no files to look at there)
SEGMENT_READ_SCHEMA = StructType(
    list(SEGMENT_SCHEMA.fields) + [StructField("bucket", IntegerType())]
)


def plan_block_counts(stats: DataFrame, target_block: int = TARGET_BLOCK,
                      nb_max: int = NB_MAX) -> DataFrame:
    """(term, df) → (term, df, nb): nb = 2^ceil(log2(df/target)), clipped.
    Pure columnar expression — the 'hot-term table' of SURVEY.md §4.2."""
    raw = F.ceil(F.log2(F.greatest(F.lit(1.0), F.col("df") / F.lit(float(target_block)))))
    # round before the int cast: pow() returns a double and 256.0000000001
    # would otherwise truncate to a non-power-of-two
    nb = F.least(F.lit(nb_max), F.round(F.pow(F.lit(2.0), raw)).cast("int"))
    return stats.withColumn("nb", F.greatest(F.lit(1), nb))


GROUPS_PER_YIELD = 8192  # bound the size of each output Arrow batch


def _slice_stream(buf: bytes, nb: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray) -> list:
    """Slice one whole-partition varbyte stream into per-group ``bytes``.
    ``starts``/``ends`` are POSTING indices; ``nb`` the per-posting byte
    counts returned by codec.varbyte_encode_with_lengths."""
    cum = np.zeros(nb.size + 1, dtype=np.int64)
    np.cumsum(nb, out=cum[1:])
    bs, be = cum[starts], cum[ends]
    return [buf[s:e] for s, e in zip(bs, be)]


def _encode_groups(pdf: pd.DataFrame, with_positions: bool,
                   carry_cols: list[str]):
    """Encoder core of _encode_stream_fn: group a MATERIALIZED postings
    frame by (term, salt) and yield encoded segment-row DataFrames.

    Round-5 rewrite — WHOLE-PARTITION vectorized, no per-group calls:
    one np.lexsort by (group key, doc_id) replaces the key argsort plus
    a per-group doc_id argsort; each codec stream (doc gaps, tfs, dlens,
    positions) is varbyte-encoded in ONE pass over all postings and then
    sliced into per-group bytes via the per-value lengths
    (codec.varbyte_encode_with_lengths); count/max_tf/min_dl come from
    np.*.reduceat at group boundaries. The previous per-group form spent
    its time in small-array numpy call overhead — measured 22x slower
    than this at avg group size 5, 2.7x at 50, 1.3x at 500 (real code
    corpora skew small: most identifiers are rare), and the overhead was
    the L3-hostile part of the encode stage's poor CPU scaling
    (BENCH/BASELINE.md (k)). Equivalence is pinned per-byte by
    tests/test_encoder_vectorized.py against the per-group original.

    Doc-gap encoding folds the per-group reset into the single pass: a
    full diff of the sorted doc_ids, then gaps[group_starts] overwritten
    with the absolute first id — the same trick positions_encode already
    uses at doc boundaries (cross-group diffs may wrap; those slots are
    always overwritten)."""
    # The (term_code << 20) | salt packing is exact only for salt < 2^20 —
    # build_segments validates nb_max at entry, and this guard catches any
    # caller that bypasses it (a silent overflow would MERGE two groups'
    # postings, corruption not an error — ADVICE r4)
    smax = int(pdf["salt"].max())
    if smax >= (1 << 20):
        raise ValueError(
            f"salt {smax} >= 2^20 breaks the (term_code << 20) | salt "
            "group packing; nb_max must be <= 2^20"
        )
    codes = pd.factorize(pdf["term"])[0].astype(np.int64)
    key = (codes << 20) | pdf["salt"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.uint64)
    # ONE stable sort by (key, doc_id) — last lexsort key is primary
    order = np.lexsort((doc_ids, key))
    key_s = key[order]
    change = np.flatnonzero(key_s[1:] != key_s[:-1]) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [key_s.size]))
    doc_ids = doc_ids[order]
    tfs = pdf["tf"].to_numpy(dtype=np.uint64)[order]
    dls = pdf["doc_len"].to_numpy(dtype=np.uint64)[order]
    terms = pdf["term"].to_numpy(dtype=object)[order]
    salts = pdf["salt"].to_numpy()[order]
    # nb is absent when the caller ships the lean posting stream (it is
    # constant per term and restored block-side by the stats join)
    nbs = pdf["nb"].to_numpy()[order] if "nb" in pdf.columns else None
    carries = {c: pdf[c].to_numpy()[order] for c in carry_cols}

    n = doc_ids.size
    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[1:] = doc_ids[1:] - doc_ids[:-1]
        gaps[starts] = doc_ids[starts]
    docs_buf, docs_nb = codec.varbyte_encode_with_lengths(gaps)
    tfs_buf, tfs_nb = codec.varbyte_encode_with_lengths(tfs)
    dls_buf, dls_nb = codec.varbyte_encode_with_lengths(dls)
    docs_vb = _slice_stream(docs_buf, docs_nb, starts, ends)
    tfs_vb = _slice_stream(tfs_buf, tfs_nb, starts, ends)
    dls_vb = _slice_stream(dls_buf, dls_nb, starts, ends)

    counts = (ends - starts).astype(np.int64)
    max_tf = np.maximum.reduceat(tfs, starts).astype(np.int64)
    min_dl = np.minimum.reduceat(dls, starts).astype(np.int64)

    if with_positions and "pos_vb" in pdf.columns and n:
        # positions arrive PRE-ENCODED per posting (build_positional_
        # postings_vb): each blob is a self-delimiting varbyte run whose
        # delta restarts at its doc boundary, so the doc-ordered byte
        # concatenation is byte-identical to encoding the flat group
        # (codec restarts at every doc anyway; pinned by
        # tests/test_postings_vb.py) — just join the bytes.
        pvbs = pdf["pos_vb"].to_numpy(dtype=object)[order]
        plen = np.fromiter((len(b) for b in pvbs), dtype=np.int64, count=n)
        bc = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plen, out=bc[1:])
        buf = b"".join(pvbs)
        pos_vb = [buf[s:e] for s, e in zip(bc[starts], bc[ends])]
    elif with_positions and "positions" in pdf.columns and n:
        plists = pdf["positions"].to_numpy(dtype=object)[order]
        flat = np.concatenate(
            [np.asarray(p, dtype=np.uint64) for p in plists]
        ) if n else np.empty(0, np.uint64)
        pos_buf, pos_nb = codec.positions_encode_with_lengths(flat, tfs)
        # posting index -> flat-position index via cumsum(tfs), then to
        # byte offsets via cumsum of the per-position byte counts
        tf_cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs.astype(np.int64), out=tf_cum[1:])
        byte_cum = np.zeros(flat.size + 1, dtype=np.int64)
        np.cumsum(pos_nb, out=byte_cum[1:])
        bs = byte_cum[tf_cum[starts]]
        be = byte_cum[tf_cum[ends]]
        pos_vb = [pos_buf[s:e] for s, e in zip(bs, be)]
    else:
        pos_vb = [b""] * starts.size

    cols: dict = {"term": terms[starts],
                  "salt": salts[starts].astype(np.int64)}
    if nbs is not None:
        cols["nb"] = nbs[starts].astype(np.int64)
    cols.update({
        "count": counts, "max_tf": max_tf, "min_dl": min_dl,
        "docs_vb": docs_vb, "tfs_vb": tfs_vb, "dlens_vb": dls_vb,
        "pos_vb": pos_vb,
    })
    for c in carry_cols:
        cols[c] = carries[c][starts]
    out = pd.DataFrame(cols)
    for lo in range(0, len(out), GROUPS_PER_YIELD):
        yield out.iloc[lo:lo + GROUPS_PER_YIELD]


def _encode_stream_fn(with_positions: bool = False,
                      carry_cols: list[str] | None = None):
    """Partition-local encoder: mapInPandas over partitions repartitioned
    (hash only, NO JVM sort) by (term, salt); grouping happens in numpy
    (_encode_groups).

    Why no sortWithinPartitions: the downstream encoder re-sorts doc_ids
    per group anyway, so the JVM sort only ever provided GROUPING — and
    Spark's row-based external sort (UnsafeExternalSorter pointer
    chasing) was the measured cache/TLB-contention hotspot of the encode
    stage at high core counts (BENCH/BASELINE.md round-3 event-log
    attribution: 0.65 stage scaling efficiency, 1.74x CPU inflation).
    A flat int64 argsort touches memory sequentially and vectorizes.

    Memory: the whole partition IS materialized in pandas, and unlike the
    replaced JVM sort (UnsafeExternalSorter) it cannot spill — a hash
    repartition scatters each (term, salt) group across the whole
    partition, so no streaming-carry design applies. The bound is
    therefore enforced UPSTREAM: encode_segments sizes the partition
    count from the estimated posting volume (POSTINGS_PER_ENCODE_
    PARTITION, positional streams ÷4 for the object-dtype position
    lists) so each worker holds a bounded slice (ADVICE r4).

    ``carry_cols`` ride through unchanged (constant within a (term, salt)
    group, e.g. the bucket id) so the caller can write partitionBy(bucket)
    from the same job."""
    carry_cols = carry_cols or []

    def run(batches):
        pdfs = [p for p in batches if not p.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        yield from _encode_groups(pdf, with_positions, carry_cols)

    return run


ENCODE_PARTITION_FACTOR = 4  # partitions per core: straggler smoothing —
# with exactly one partition per core the slowest (term,salt)-hash
# partition stalls the whole encode stage; 4x gives the scheduler slack
# to rebalance (measured: see BENCH/BASELINE.md round-2 notes)

POSTINGS_PER_ENCODE_PARTITION = 4_000_000  # python-worker memory bound:
# the encoder materializes its whole partition in pandas (no spill — see
# _encode_stream_fn), ~40-60 B/posting in numpy form → ≲250 MB per worker
# at this bound. Callers that know the posting volume pass est_postings
# so the partition count scales with DATA, not just cores (ADVICE r4).


def _sized_encode_parts(spark: SparkSession, session_parts: int,
                        with_positions: bool,
                        est_postings: int | None) -> int:
    """Encode-partition count: scheduler slack per core, the session's
    data-sized shuffle sizing, AND the python-worker memory bound."""
    bound = POSTINGS_PER_ENCODE_PARTITION // (4 if with_positions else 1)
    return max(
        spark.sparkContext.defaultParallelism * ENCODE_PARTITION_FACTOR,
        session_parts,
        -(-est_postings // bound) if est_postings else 0,
    )


def encode_segments(salted: DataFrame, with_positions: bool = False,
                    partitions: int | None = None,
                    carry_cols: list[str] | None = None,
                    est_postings: int | None = None) -> DataFrame:
    """salted postings (term, salt, nb, doc_id, tf, doc_len[, positions])
    → segment rows, via the sorted-stream encoder. ``carry_cols`` are
    extra columns constant per (term, salt) group (e.g. bucket) emitted
    unchanged on the segment rows. ``est_postings`` (when the caller
    knows the input volume) enforces the per-worker memory bound."""
    spark = salted.sparkSession
    carry_cols = carry_cols or []
    # honor the session's shuffle sizing when it is larger — encode
    # partitions must scale with data volume (postings per partition must
    # fit the in-memory sort), not just with cores
    # NB: no fallback default in conf.get — Spark 4 VALIDATES the passed
    # default against the conf spec even when only used as a fallback, so
    # conf.get(key, "0") throws on a plain spark-submit session where the
    # key is unset (caught by the submit_build deploy-path check, r4)
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        session_parts = 0
    parts = partitions or _sized_encode_parts(
        spark, session_parts, with_positions, est_postings
    )
    # the term column may be a dictionary-encoded int64 id instead of the
    # string (build_segments' id-through-the-shuffle path): the output
    # schema mirrors the input type, and the grouping (pd.factorize) is
    # type-agnostic. With int64 terms, NO PyObject strings materialize in
    # the python workers at all (Arrow int64 -> numpy is zero-copy).
    # ``nb`` may likewise be absent from the input (lean posting stream —
    # it is constant per term, so build_segments restores it block-side
    # via the stats join instead of shipping it per posting); the output
    # then omits it too.
    has_nb = "nb" in salted.columns
    # the positional column may be the pre-encoded per-posting varbyte
    # (pos_vb, build_positional_postings_vb — ONE binary per posting
    # through the shuffle and Arrow boundary) or the legacy array<int>
    # (ingest delta path); _encode_groups handles both
    pos_in = ([("pos_vb" if "pos_vb" in salted.columns else "positions")]
              if with_positions else [])
    cols = ["term", "salt"] + (["nb"] if has_nb else []) + [
        "doc_id", "tf", "doc_len"
    ] + pos_in + carry_cols
    schema = StructType(
        [StructField("term", salted.schema["term"].dataType)]
        + [f for f in list(SEGMENT_SCHEMA.fields)[1:]
           if has_nb or f.name != "nb"]
        + [salted.schema[c] for c in carry_cols]
    )
    # hash repartition ONLY — no sortWithinPartitions: grouping happens
    # in the Python encoder (numpy factorize + int64 argsort), which the
    # round-3 event-log attribution showed scales far better than the
    # JVM row sort under shared-cache contention
    return (
        salted.select(*cols)
        .repartition(parts, "term", "salt")
        .mapInPandas(_encode_stream_fn(with_positions, carry_cols), schema)
    )


def build_segments(
    corpus: DataFrame,
    out_dir: str,
    text_col: str = "content",
    doc_col: str = "doc_id",
    analyzer: str = "simple",
    n_buckets: int = 8,
    target_block: int = TARGET_BLOCK,
    nb_max: int = NB_MAX,
    snapshot_id: str = "",
    overwrite: bool = False,
    with_positions: bool = False,
    fields: "dict | None" = None,
) -> dict:
    """Build (or resume) the segment index at ``out_dir``. Returns the
    global manifest dict.

    ``fields`` (name -> Column/str) builds a FIELD-SCOPED index (the ES
    schema's per-field analyzed indexes, referenceSchema.json:50-59):
    tokens become composite ``field\x1fterm`` keys, doc_len is the
    field's own token count, and the manifest carries per-field
    docCount/avgdl (Lucene per-field norms). Everything downstream —
    tf/df aggregation, bucket routing, block planning, WAND metadata,
    codecs — is unchanged because the composite string IS the term.
    Query with SegmentIndex.search(field=...); incremental ingest needs
    the same ``fields`` mapping (apply_upserts validates the names
    against the manifest and refuses unprefixed batches)."""
    if nb_max > (1 << 20):
        raise ValueError(
            f"nb_max={nb_max} > 2^20 — the encoder's (term_code << 20) | "
            "salt group packing requires salt < 2^20"
        )
    spark = corpus.sparkSession
    fs = storage.fs_for(out_dir, spark)
    if overwrite and fs.exists(out_dir):
        fs.rmtree(out_dir)
    fs.makedirs(out_dir)
    index_manifest = pjoin(out_dir, "index.json")
    if fs.exists(index_manifest):
        return storage.read_json(fs, index_manifest)

    staging_manifest = pjoin(out_dir, "_staging_manifest.json")
    staging_dir = pjoin(out_dir, "staging")
    stats_path = pjoin(out_dir, "stats.parquet")

    # ---- stage 1: staging postings + stats (skipped if committed) ----
    if not fs.exists(staging_manifest):
        t0 = time.time()
        timings: dict[str, float] = {}
        # Scan-parallelism guard (round 6): a small or compacted corpus
        # can arrive as fewer splits than cores — the sf1.0 driver input
        # is ONE 5.7 MB parquet file, i.e. ONE scan task tokenizing all
        # 50k docs serially while 31 cores idle (measured: staging 3.6 s
        # -> ~0.9 s with the repartition). Round-robin repartition to
        # 2x parallelism when the source is under-split; the shuffle
        # moves only the raw corpus bytes once, and a 100 TB scan has
        # orders of magnitude more splits than cores so this never
        # fires there. Deterministic under retry: Spark's
        # sort-before-repartition (SPARK-23207) stays on.
        par = spark.sparkContext.defaultParallelism
        if corpus.rdd.getNumPartitions() < par:
            corpus = corpus.repartition(par * 2)
        # SENTINEL-ROW staging (round 5): append one NUL sentinel token
        # per doc AFTER doc_len is computed, so a single pipelined job
        # (tokenize → explode → agg → partitionBy write) yields both the
        # postings AND a bucket=-1 partition carrying one (doc_id[,
        # field], doc_len) row per doc. The docs table and corpus stats
        # then derive from a partition-pruned read of that tiny slice.
        # This replaced tok.persist(): under Spark 4 AQE the cache
        # materializes as its own TableCacheQueryStage barrier job (a
        # measured 18s serial prefix of the staging phase at local[8],
        # BENCH/BASELINE.md round 5) before the explode+agg even starts.
        # NUL never survives any analyzer, so `term` ending in "\x00"
        # uniquely marks sentinel rows; fielded builds append
        # `field<FIELD_SEP>\x00` so the sentinel keeps its field.
        if fields:
            from .fields import FIELD_SEP, prefixed_field_tokenized

            tok = prefixed_field_tokenized(corpus, fields, doc_col, analyzer)
            sent_tok = F.concat(F.col("field"), F.lit(FIELD_SEP + "\x00"))
        else:
            tok = P.tokenized(corpus, text_col, doc_col, analyzer)
            sent_tok = F.lit("\x00")
        tok = tok.withColumn("tokens", F.concat("tokens", F.array(sent_tok)))
        # Doc-local staging: grouping per (doc, term) is provably
        # doc-local, so it needs neither the full exchange of token rows
        # nor the ~|postings|-group hash agg of the declarative
        # explode+groupBy form, and positions leave the python worker
        # already varbyte-encoded per posting. Measured faster at every
        # core count (OPTIMIZATION_r06.md; BENCH/BASELINE.md (m)).
        if with_positions:
            post = P.build_positional_postings_vb(tok)
        else:
            post = P.build_postings_doclocal(tok)
        post = post.withColumn(
            "bucket",
            F.when(F.col("term").endswith("\x00"), F.lit(-1)).otherwise(
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
            ).cast("int"),
        ).withColumn(
            # dictionary id alongside the string: stage 2 reads ONLY the
            # 8-byte tid (parquet column pruning skips the strings) and
            # joins the block plan on the long key — see the stage-2 note
            "tid", F.xxhash64("term")
        )
        fs.rmtree(staging_dir)  # uncommitted partial write: rebuild
        t = time.time()
        spark.sparkContext.setJobDescription("build: staging postings")
        post.write.partitionBy("bucket").parquet(staging_dir)
        spark.sparkContext.setJobDescription(None)
        timings["staging_write"] = round(time.time() - t, 3)

        # derived jobs: vocab-sized stats from the real buckets, docs +
        # corpus stats from the sentinel partition — all partition-pruned
        # reads of committed staging, submitted CONCURRENTLY so their
        # stage tails overlap instead of paying sequential job latencies
        def job_stats():
            t = time.time()
            # job descriptions are thread-local — label inside the pool thread
            spark.sparkContext.setJobDescription("build: term stats + block plan")
            staged = spark.read.parquet(staging_dir).filter(F.col("bucket") >= 0)
            plan_block_counts(
                P.term_stats(staged), target_block, nb_max
            ).withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
            ).write.mode("overwrite").parquet(stats_path)
            # stage-2 driver inputs precomputed here (one tiny agg over
            # the vocab-sized stats) and committed in the staging
            # manifest: per-bucket posting counts (bucket manifests) and
            # the tid-collision gate (id-through-the-shuffle path). Saves
            # two driver job round-trips per build — a measured slice of
            # the high-parallelism leg's serial fraction.
            rows = spark.read.parquet(stats_path).groupBy("bucket").agg(
                F.sum("df").alias("n"),
                F.count(F.lit(1)).alias("terms"),
                F.count_distinct(F.xxhash64("term")).alias("tids"),
            ).collect()
            bucket_postings = {int(r["bucket"]): int(r["n"]) for r in rows}
            tids_unique = sum(int(r["terms"]) for r in rows) == sum(
                int(r["tids"]) for r in rows
            )
            return bucket_postings, tids_unique, round(time.time() - t, 3)

        def sentinel_rows():
            # one row per (doc[, field]) from the pruned bucket=-1 slice
            d = spark.read.parquet(staging_dir).filter(F.col("bucket") == -1)
            if fields:
                from .fields import FIELD_SEP

                d = d.withColumn(
                    "field", F.substring_index("term", FIELD_SEP, 1)
                )
            return d

        def job_docs() -> float:
            t = time.time()
            spark.sparkContext.setJobDescription("build: docs table")
            # docs table: exact N/avgdl bookkeeping, updated by deltas
            # (gen 0). Fielded builds keep the field column — one row per
            # (doc, field) — so ingest can maintain PER-FIELD stats.
            cols = ["doc_id"] + (["field"] if fields else []) + ["doc_len"]
            sentinel_rows().select(*cols).withColumn(
                "gen", F.lit(0)
            ).withColumn("deleted", F.lit(False)).write.mode("overwrite").parquet(
                pjoin(out_dir, "docs")
            )
            return round(time.time() - t, 3)

        def job_cstats():
            t = time.time()
            spark.sparkContext.setJobDescription("build: corpus stats")
            d = sentinel_rows()
            row = d.agg(
                F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
            ).collect()[0]
            cs = P.CorpusStats(
                n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0)
            )
            fstats = None
            if fields:
                # per-field docCount/avgdl — the per-query scalar params
                fstats = {
                    r["field"]: {"n_docs": int(r["n"]),
                                 "avgdl": float(r["avgdl"] or 0.0)}
                    for r in d.groupBy("field").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.avg("doc_len").alias("avgdl"),
                    ).collect()
                }
            return cs, fstats, round(time.time() - t, 3)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_stats = pool.submit(job_stats)
            f_docs = pool.submit(job_docs)
            f_cstats = pool.submit(job_cstats)
            bucket_postings, tids_unique, timings["stats_write"] = f_stats.result()
            timings["docs_write"] = f_docs.result()
            cs, field_stats, timings["corpus_stats"] = f_cstats.result()
        timings["secs"] = round(time.time() - t0, 3)
        storage.write_json_atomic(
            fs,
            staging_manifest,
            {
                "snapshot_id": snapshot_id,
                "n_docs": cs.n_docs,
                "avgdl": cs.avgdl,
                "n_buckets": n_buckets,
                "nb_max": nb_max,
                "target_block": target_block,
                "analyzer": analyzer,
                "positions": with_positions,
                **({"field_stats": field_stats,
                    "default_field": next(iter(fields))} if fields else {}),
                "bucket_postings": {str(k): v for k, v in bucket_postings.items()},
                "tids_unique": tids_unique,
                "build_metrics": timings,
                "committed": True,
            },
        )
    stage1 = storage.read_json(fs, staging_manifest)

    # ---- stage 2: encode the missing buckets in ONE Spark job ----
    # Buckets remain independent RESTART units (one manifest per bucket,
    # committed last, skipped when present) but are encoded together in a
    # single job: filter staging to the missing buckets (directory
    # pruning), one broadcast of the block plan, one (term, salt) shuffle,
    # one partitionBy(bucket) write. Round 1 ran one thread-pooled Spark
    # job PER bucket; the 8x job scheduling / broadcast / scan overhead
    # was the dominant per-build Amdahl term (measured ~1.8x stage-2
    # wall-clock at 300k docs, local[8]).
    #
    # Per-bucket posting counts come from the staging manifest (Σ df per
    # bucket over the stats parquet — the encoder preserves posting
    # counts exactly) and block counts from parquet footers via pyarrow:
    # no extra Spark jobs per bucket.
    t2 = time.time()
    nb = stage1["n_buckets"]
    missing = [
        i for i in range(nb)
        if not fs.exists(pjoin(out_dir, f"manifest_bucket_{i}.json"))
    ]
    if missing:
        # per-bucket posting counts: precomputed by stage 1
        bucket_postings = {
            int(k): int(v) for k, v in stage1["bucket_postings"].items()
        }
        for i in missing:
            fs.rmtree(pjoin(out_dir, "segments", f"bucket={i}"))  # partial write
        # always filter to the missing buckets: directory pruning both
        # scopes a resume AND excludes the sentinel bucket=-1 partition
        staged = spark.read.parquet(staging_dir).filter(
            F.col("bucket").isin(missing)
        )
        nbs = spark.read.parquet(stats_path).select("term", "nb").withColumn(
            "tid", F.xxhash64("term")
        )
        # Dictionary-encode the term ALL THE WAY through stage 2: staging
        # carries tid = xxhash64(term) next to the string (stage 1), so
        # the encode pipeline (a) scans ONLY the 8-byte tid — parquet
        # column pruning never reads the strings — (b) attaches the block
        # plan by joining on the single LONG key, which Spark executes as
        # a dense LongHashedRelation probe instead of a vocab-sized
        # string-keyed BytesToBytesMap probe per posting (thread dumps
        # caught arrayEquals probe churn as a top encode-map hotspot,
        # BENCH/BASELINE.md (j)), and (c) ships int64 terms to the python
        # encoder (Arrow int64 -> numpy zero-copy; no PyObject strings).
        # The string is restored on the block-count-sized output by one
        # broadcast join against the same stats dim. Guard: a 64-bit id
        # collision would merge two terms' postings, so fall back to the
        # string path unless ids are collision-free over this build's
        # vocabulary (stage 1's vocab-sized aggregate; P(collision) ~
        # V^2/2^65).
        use_ids = bool(stage1["tids_unique"])
        # positions arrive pre-encoded per posting (pos_vb)
        pos_cols = ["pos_vb"] if stage1["positions"] else []
        est_missing = sum(bucket_postings.get(i, 0) for i in missing)
        if use_ids:
            # LEAN posting stream into the encode shuffle: nb is needed
            # only to COMPUTE salt (map side, pre-shuffle) and bucket is
            # constant per term — both are restored on the block-count-
            # sized encoder output by the tid broadcast join below, so
            # neither is shipped per posting. Thread dumps put the
            # remaining encode-stage JVM CPU in per-value Arrow batch
            # construction (ArrowFieldWriter/StructVector): every column
            # dropped here is posting-count × per-value writer work.
            salted = staged.select("tid", "doc_id", "tf", "doc_len",
                                   *pos_cols).join(
                F.broadcast(nbs.select("tid", "nb")), "tid"
            ).withColumn(
                "salt",
                F.pmod(F.xxhash64("doc_id"), F.col("nb").cast("long")).cast("int"),
            ).drop("nb").withColumnRenamed("tid", "term")
            segs = encode_segments(
                salted, stage1["positions"], est_postings=est_missing,
            )
            restore = nbs.select(
                "tid", "term", "nb",
                F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int").alias("bucket"),
            )
            segs = segs.withColumnRenamed("term", "tid").join(
                F.broadcast(restore), "tid"
            ).drop("tid")
        else:
            salted = staged.select("term", "doc_id", "tf", "doc_len",
                                   "bucket", *pos_cols).join(
                F.broadcast(nbs.select("term", "nb")), "term"
            ).withColumn(
                "salt",
                F.pmod(F.xxhash64("doc_id"), F.col("nb").cast("long")).cast("int"),
            )
            segs = encode_segments(
                salted, stage1["positions"], carry_cols=["bucket"],
                est_postings=est_missing,
            )
        # the encoded blocks are tiny relative to the postings (compressed
        # segment rows), so one cheap extra shuffle packs them into one
        # partition per bucket: the partitionBy write then emits O(buckets)
        # files instead of O(encode_tasks x buckets) — small-files pressure
        # AND the driver-serial commit-protocol cost both scale with file
        # count. NOT repartitionByRange (boundary sampling re-executes the
        # whole upstream encode — measured 3x stage-2 wall-clock); the
        # (term, salt) sort keeps term order inside each bucket file for
        # parquet row-group min/max pruning.
        spark.sparkContext.setJobDescription("build: encode segments")
        (
            segs.repartition(len(missing), "bucket")
            .sortWithinPartitions("bucket", "term", "salt")
            .write.partitionBy("bucket").mode("append")
            .parquet(pjoin(out_dir, "segments"))
        )
        spark.sparkContext.setJobDescription(None)
        encode_secs = round(time.time() - t2, 3)
        for i in missing:
            seg_dir = pjoin(out_dir, "segments", f"bucket={i}")
            seg_files = (
                [f for f in fs.listdir(seg_dir) if f.endswith(".parquet")]
                if fs.exists(seg_dir) else []
            )
            blocks = sum(
                storage.parquet_num_rows(fs, pjoin(seg_dir, f)) for f in seg_files
            )
            storage.write_json_atomic(
                fs, pjoin(out_dir, f"manifest_bucket_{i}.json"),
                {
                    "bucket": i,
                    "snapshot_id": stage1["snapshot_id"],
                    "partition_range": {"bucket": i, "n_buckets": nb},
                    "posting_count": bucket_postings.get(i, 0),
                    "block_count": int(blocks),
                    "segment_files": seg_files,
                    "build_metrics": {"secs": encode_secs,
                                      "buckets_in_job": len(missing)},
                    "committed": True,
                },
            )
    bucket_manifests = [
        storage.read_json(fs, pjoin(out_dir, f"manifest_bucket_{i}.json"))
        for i in range(nb)
    ]
    stage2_secs = round(time.time() - t2, 3)

    # ---- stage 3: global manifest, committed last ----
    manifest = {
        "build_metrics": {
            "stage1": stage1.get("build_metrics", {}),
            "stage2_secs": stage2_secs,
        },
        "version": 1,
        "snapshot_id": stage1["snapshot_id"],
        "analyzer": stage1["analyzer"],
        "positions": stage1.get("positions", False),
        "n_docs": stage1["n_docs"],
        "avgdl": stage1["avgdl"],
        "n_buckets": stage1["n_buckets"],
        "nb_max": stage1["nb_max"],
        "target_block": stage1["target_block"],
        "posting_count": sum(m["posting_count"] for m in bucket_manifests),
        "block_count": sum(m["block_count"] for m in bucket_manifests),
        **({"field_stats": stage1["field_stats"],
            "default_field": stage1["default_field"]}
           if stage1.get("field_stats") else {}),
        "committed": True,
    }
    storage.write_json_atomic(fs, index_manifest, manifest)
    return manifest


def validate_index(spark: SparkSession, out_dir: str) -> dict:
    """Schema/stats health gate — the analog of the reference's deep-equal
    schema validation + /__health checks (pkg/es/service.go:51-106,
    pkg/health/healthcheck.go:44-51). Raises on any invariant violation."""
    fs = storage.fs_for(out_dir, spark)
    manifest = storage.read_json(fs, pjoin(out_dir, "index.json"))
    segs = spark.read.parquet(
        pjoin(out_dir, manifest.get("seg_dir", "segments"))
    )
    expect = {f.name for f in SEGMENT_SCHEMA.fields} | {"bucket"}
    got = set(segs.columns)
    if got != expect:
        raise ValueError(f"segment schema drift: {got ^ expect}")
    agg = segs.agg(
        F.sum("count").alias("postings"), F.count(F.lit(1)).alias("blocks")
    ).collect()[0]
    if int(agg["postings"] or 0) != manifest["posting_count"]:
        raise ValueError(
            f"posting count mismatch: {agg['postings']} != {manifest['posting_count']}"
        )
    stats = spark.read.parquet(
        pjoin(out_dir, manifest.get("stats_file", "stats.parquet"))
    )
    df_sum = stats.agg(F.sum("df")).collect()[0][0]
    if int(df_sum or 0) != manifest["posting_count"]:
        raise ValueError("sum(df) != posting_count")
    return manifest


def _decode_live(pdf: pd.DataFrame, tomb):
    """(row, doc_id, live) per posting of segment rows tagged with their
    ``gen``; ``live`` is the tombstone rule's mask (None without
    tombstones). The docs_vb of consecutive blocks are delta runs that
    each restart at an absolute first id — the layout positions_decode
    reads — so one pass decodes every block."""
    from .wand import _live_mask

    counts = pdf["count"].to_numpy(np.int64)
    row = np.repeat(np.arange(len(pdf)), counts)
    docs = codec.positions_decode(b"".join(pdf["docs_vb"]), counts)
    docs = docs.astype(np.int64)
    return row, docs, _live_mask(docs, pdf["gen"].to_numpy(np.int64)[row],
                                 tomb)


def live_term_counts(rows: DataFrame, tomb) -> DataFrame:
    """(term, df) over segment rows tagged with their ``gen``: the
    postings that survive the tombstone rule, per term; terms with none
    are left out. Reads only the docs_vb column of the blocks."""
    def run(batches):
        for pdf in batches:
            row, _docs, live = _decode_live(pdf, tomb)
            yield pd.DataFrame({"term": pdf["term"], "live": (
                pdf["count"] if live is None
                else np.bincount(row[live], minlength=len(pdf)))})

    # one Python task per core, not per segment file: each task start
    # costs more than its counting (SegmentIndex._decoded does the same)
    return rows.select("term", "gen", "count", "docs_vb") \
        .coalesce(rows.sparkSession.sparkContext.defaultParallelism) \
        .mapInPandas(run, "term string, live long") \
        .groupBy("term").agg(F.sum("live").alias("df")) \
        .filter(F.col("df") > 0)


def _compact_rows(batches, tomb, with_positions: bool):
    """The compaction kernel over whole groups of segment rows (any
    generations; per row its group ``grp`` of ``m`` and the term's output
    block count ``nb_out``) → the output blocks, which draw only on the
    rows of their group (compact_segments).

    Whole-partition vectorized, like _encode_groups (_decode_live decodes
    every block in one pass). Superseded postings drop by the tombstone
    rule, and so do the postings of a row sent to several groups that
    belong to another one. Positions are never decoded: each posting's
    run in pos_vb restarts its delta at the doc boundary, so the varbyte
    terminators split the bytes per posting and _encode_groups joins
    them unchanged."""
    pdfs = [b for b in batches if len(b)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    row, docs, live = _decode_live(pdf, tomb)
    nb_out = pdf["nb_out"].to_numpy(np.int64)
    codes, uniq = pd.factorize(pdf["term"])
    salt = xxh64_long_np(docs) % nb_out[row]
    keep = (salt % pdf["m"].to_numpy(np.int64)[row]
            == pdf["grp"].to_numpy(np.int64)[row])
    if live is not None:
        keep &= live
    if not keep.any():
        return
    tfs = codec.varbyte_decode(b"".join(pdf["tfs_vb"]))
    post = {"term": codes[row][keep], "salt": salt[keep],
            "nb": nb_out[row][keep], "doc_id": docs[keep], "tf": tfs[keep],
            "doc_len": codec.varbyte_decode(
                b"".join(pdf["dlens_vb"]))[keep]}
    if with_positions:
        buf = b"".join(pdf["pos_vb"])
        ends = np.flatnonzero(
            (np.frombuffer(buf, np.uint8) & 0x80) == 0) + 1
        be = ends[np.cumsum(tfs.astype(np.int64)) - 1]
        bs = np.concatenate(([0], be[:-1]))
        post["pos_vb"] = [buf[s:e] for s, e in zip(bs[keep], be[keep])]
    terms = np.asarray(uniq, dtype=object)
    for out in _encode_groups(pd.DataFrame(post), with_positions, []):
        yield out.assign(term=terms[out["term"].to_numpy(np.int64)])


def compact_segments(rows: DataFrame, plan: DataFrame, tomb,
                     with_positions: bool,
                     prior: "DataFrame | None" = None,
                     est_postings: int | None = None) -> DataFrame:
    """Re-block segment rows — base and delta generations alike, each row
    tagged with its ``gen`` — into the block counts of ``plan``
    (term, nb), live postings only (``tomb``: wand's _read_tombstones
    arrays). ``prior`` (term, nb) is the plan the input rows were salted
    with, ``plan`` itself when None; a term either lacks has one block.
    The one compaction behind fold_deltas, merge_delta_tier and
    merge_segments.

    Rows group by (term, salt mod m), m the smaller of the term's output
    and prior block counts: salting is aligned and block counts are
    powers of two, so an output block draws only on the input blocks of
    its group, the shuffle moves compressed blocks, never posting rows,
    and a hot term still spreads over up to m groups. A row salted with
    fewer blocks than m (written under an older plan) goes to each of
    the m / nb groups its postings can reach, the _grouped rule of
    wand.py, and each group keeps only its own postings.

    The groups are hash-partitioned and the kernel (_compact_rows) runs
    once per partition, not once per group: an applyInPandas call per
    group cost ~3 ms of pandas overhead (3.2 s of kernel time for 1,084
    groups of 116k postings, 0.24 s whole-partition). One partition per
    core, more when ``est_postings`` asks for the encoder's memory bound:
    the kernel is fast, and each Python task costs a fixed start
    (measured ~0.1 s, local[4]) that spare partitions would multiply."""
    rows = rows.join(F.broadcast(plan.select(
        "term", F.col("nb").alias("nb_out"))), "term", "left") \
        .withColumn("nb_out", F.coalesce("nb_out", F.lit(1)))
    m = F.col("nb_out")
    if prior is not None:
        rows = rows.join(F.broadcast(prior.select(
            "term", F.col("nb").alias("nb_in"))), "term", "left")
        m = F.least(m, F.coalesce("nb_in", F.lit(1)))
    grp = F.explode(F.sequence(F.pmod("salt", m), m - 1, F.col("nb")))
    bound = POSTINGS_PER_ENCODE_PARTITION // (4 if with_positions else 1)
    parts = max(rows.sparkSession.sparkContext.defaultParallelism,
                -(-est_postings // bound) if est_postings else 0)
    return rows.select(*SEGMENT_COLS, "gen", "nb_out", m.alias("m"),
                       grp.alias("grp")) \
        .repartition(parts, "term", "grp") \
        .mapInPandas(lambda batches: _compact_rows(
            batches, tomb, with_positions), SEGMENT_SCHEMA)


def write_segments(segs: DataFrame, n_buckets: int, path: str) -> None:
    """Segment rows → ``path``/bucket=j/ in the build's layout: one file
    per bucket, rows sorted by (term, salt) for row-group pruning."""
    segs.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    ).repartition(n_buckets, "bucket") \
        .sortWithinPartitions("bucket", "term", "salt") \
        .write.partitionBy("bucket").mode("overwrite").parquet(path)


def merge_segments(
    spark: SparkSession, out_dir: str, target_block: int | None = None
) -> None:
    """Second-level merge: re-block each base term to the smallest
    power-of-two block count that still meets target_block, never more
    than it has — compact_segments with no tombstones (delta generations
    stay as they are). Block-max metadata is recomputed on the final
    layout (SURVEY.md §7 hard part 3). The merged base lands in a NEW
    versioned dir committed by one index.json write (crash before the
    commit leaves the old base fully live; the orphan dir is rebuilt)."""
    from .wand import _NO_TOMB

    fs = storage.fs_for(out_dir, spark)
    manifest = storage.read_json(fs, pjoin(out_dir, "index.json"))
    tb = target_block or manifest["target_block"]
    version = int(manifest.get("base_version", 0)) + 1
    new_seg_dir = f"segments_v{version}"
    seg_path = pjoin(out_dir, manifest.get("seg_dir", "segments"))
    rows = spark.read.schema(SEGMENT_READ_SCHEMA).parquet(seg_path) \
        .withColumn("gen", F.lit(0))
    plan = plan_block_counts(rows.groupBy("term").agg(
        F.sum("count").alias("df"), F.min("nb").alias("nb_in")),
        tb, manifest["nb_max"]).select(
            "term", F.least("nb", "nb_in").alias("nb"))
    new_path = pjoin(out_dir, new_seg_dir)
    fs.rmtree(new_path)  # orphan of a crashed merge
    write_segments(compact_segments(
        rows, plan, _NO_TOMB, bool(manifest.get("positions")),
        est_postings=int(manifest.get("posting_count", 0))),
        manifest["n_buckets"], new_path)
    manifest["block_count"] = int(spark.read.parquet(new_path).count())
    manifest["merged"] = True
    manifest["seg_dir"] = new_seg_dir
    manifest["base_version"] = version
    # THE commit — after this one atomic write the new base is live
    storage.write_json_atomic(fs, pjoin(out_dir, "index.json"), manifest)
    fs.rmtree(seg_path)  # best-effort GC of the old base
