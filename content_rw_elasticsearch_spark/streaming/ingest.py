"""Incremental + streaming ingest: delta generations, tombstones, fold.

Reference semantics being reproduced (SURVEY.md §2.H): one upsert per
document keyed by uuid — idempotent, last-writer-wins, deletes keyed the
same way (/root/reference/pkg/es/service.go:119-138,
pkg/message/message_handler.go:112-120). No watermarks needed: idempotency
replaces them, exactly as in the reference.

Batch form: ``apply_upserts`` writes one delta GENERATION:
    delta/gen=N/segments/bucket=j/   encoded postings of the new versions
    delta/gen=N/tombstones/          doc_ids whose older versions die
    docs/                            exact (doc_id, doc_len, gen) bookkeeping
    delta_manifest_N.json            committed LAST (atomic restart point)
A killed batch re-applies idempotently: the generation number is derived
from committed manifests, uncommitted dirs are rebuilt.

Streaming form: ``stream_ingest`` wraps the same function in Structured
Streaming's foreachBatch — micro-batch upserts with checkpointed offsets,
the direct analog of the reference's Kafka consumer loop
(message_handler.go:38-61) with consumer-group offsets.

``fold_deltas`` is the compaction: decode base+deltas, drop superseded
versions, re-encode into a fresh base with EXACT recomputed statistics
(df approximation ends here — same lifecycle as a Lucene segment merge).

Scale notes: the docs-table rewrite per batch is the sandbox stand-in for
an Iceberg ``MERGE INTO`` (same dataflow, engine-managed file swap); delta
segments are small and term-bucketed like the base, so query-side file
pruning still applies; fold is a full shuffle by design — it is the
amortized merge, run off-peak.
"""

from __future__ import annotations

import functools
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import storage
from ..operators import postings as P
from ..operators.segments import (
    SEGMENT_SCHEMA,
    encode_segments,
    plan_block_counts,
)
from ..storage import join as pjoin


def _committed_gens(fs: storage.IndexFS, index_dir: str) -> list[int]:
    gens = []
    for name in fs.listdir(index_dir):
        if not (name.startswith("delta_manifest_") and name.endswith(".json")):
            continue
        dm = storage.read_json(fs, pjoin(index_dir, name))
        if dm.get("committed"):
            gens.append(int(dm["gen"]))
    return sorted(gens)


def apply_upserts(
    spark: SparkSession,
    index_dir: str,
    updates: DataFrame,
    text_col: str = "content",
    doc_col: str = "doc_id",
    deleted_col: str | None = None,
    ts_col: str | None = None,
    fields: dict | None = None,
) -> dict | None:
    """Apply one batch of upserts/deletes as a new delta generation.
    Returns the committed delta manifest (None for an empty batch).

    Last-writer-wins is uuid-keyed (the reference's idempotent upsert,
    es/service.go:119-128) — so a batch must contain ONE row per doc.
    With ``ts_col`` the batch is reduced to each doc's latest row first
    (row_number over ts desc; ties broken arbitrarily — use a unique
    offset column for deterministic replays). Without it, duplicate
    doc_ids raise: letting both versions through would double-count
    postings in the delta generation and inflate n_docs/avgdl.

    FIELDED indexes (build_segments(fields=...)): pass ``fields`` — the
    same field-name → Column/str mapping the build used (field
    expressions are arbitrary Columns, so they cannot be persisted in the
    manifest; the NAMES are validated against it). The batch tokenizes
    into composite ``field\x1fterm`` keys, the docs table is maintained
    per (doc, field), and the delta manifest carries recomputed per-field
    docCount/avgdl that SegmentIndex.load picks up. An upsert replaces
    the WHOLE document — the doc-keyed tombstone kills every field's old
    postings, matching the reference's document-granularity upsert.
    Calling without ``fields`` on a fielded index (or with mismatched
    names, or with ``fields`` on an unfielded one) raises — silently
    mixing unprefixed terms into composite-key postings would corrupt
    postings/df."""
    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    fielded = bool(m.get("field_stats"))
    if fielded and fields is None:
        raise ValueError(
            "this index is fielded (manifest carries field_stats) — pass "
            f"fields= with the build's field expressions for "
            f"{sorted(m['field_stats'])}"
        )
    if not fielded and fields is not None:
        raise ValueError("fields= passed but the index is unfielded")
    if fielded and set(fields) != set(m["field_stats"]):
        raise ValueError(
            f"fields {sorted(fields)} do not match the manifest's "
            f"{sorted(m['field_stats'])}"
        )
    updates = updates.withColumnRenamed(doc_col, "doc_id")
    is_deleted = F.col(deleted_col) if deleted_col else F.lit(False)
    n_upserts: int | None = None
    if ts_col:
        if updates.isEmpty():
            return None
        w = Window.partitionBy("doc_id").orderBy(F.desc(ts_col))
        updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        n_deletes = updates.filter(is_deleted).count()
    else:
        # ONE aggregate replaces three separate driver jobs (the
        # isEmpty probe, the duplicate check and the delete count —
        # each a full ~0.2-0.4 s job round-trip over the same batch;
        # round-6 job-overhead profiling, bench_extra.py)
        r = updates.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("nd"),
            F.count(F.when(is_deleted, 1)).alias("ndel"),
            # not n - ndel: a NULL flag is neither, and `live` drops it
            F.count(F.when(~is_deleted, 1)).alias("nup"),
        ).collect()[0]
        if int(r["n"]) == 0:
            return None
        if int(r["n"]) != int(r["nd"]):
            raise ValueError(
                f"batch has {int(r['n']) - int(r['nd'])} duplicate doc_id rows; "
                "pass ts_col= to reduce to last-writer-wins or pre-dedupe"
            )
        n_deletes = int(r["ndel"])
        n_upserts = int(r["nup"])
    gen = max(_committed_gens(fs, index_dir) + [int(m.get("min_gen", 0))]) + 1
    t0 = time.time()
    delta_dir = pjoin(index_dir, "delta", f"gen={gen}")
    fs.rmtree(delta_dir)  # uncommitted partial batch: rebuild
    live = updates.filter(~is_deleted)

    # postings of the new versions → encoded delta segments
    with_pos = bool(m.get("positions", False))
    if fielded:
        from ..operators.fields import prefixed_field_tokenized

        tok = prefixed_field_tokenized(
            live, fields, "doc_id", m.get("analyzer", "simple")
        )
    else:
        tok = P.tokenized(live, text_col, "doc_id", m.get("analyzer", "simple"))
    post = (
        P.build_positional_postings(tok) if with_pos else P.build_postings(tok)
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(m["n_buckets"])).cast("int")
    )
    nbs = spark.read.parquet(
        pjoin(index_dir, m.get("stats_file", "stats.parquet"))
    ).select("term", "nb")
    salted = post.join(F.broadcast(nbs), "term", "left").withColumn(
        "nb", F.coalesce(F.col("nb"), F.lit(1))  # unseen term → one block
    ).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("nb").cast("long")).cast("int")
    )
    # Three INDEPENDENT writes (delta segments, tombstones, docs-table
    # merge into docs.tmp) overlap via driver threads (guide §2.6:
    # concurrent jobs back-fill each other's stage tails — job
    # descriptions are thread-local, so each is labelled). The live
    # docs/ swap runs only after all three succeed, so a batch whose
    # segment or tombstone write raises leaves docs/ (and with it
    # n_docs/avgdl) untouched. A crash between the swap and the manifest
    # commit still leaves the batch's rows in docs/; retrying the batch
    # is idempotent (it rmtree-s the uncommitted delta dir and re-merges
    # docs/ with the same anti-join). The manifest commit remains the
    # LAST, strictly-sequential step.
    def job_segments():
        spark.sparkContext.setJobDescription("ingest: delta segments")
        segs = encode_segments(salted, with_pos, partitions=2)
        segs.withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(m["n_buckets"])).cast("int")) \
            .coalesce(2).sortWithinPartitions("bucket", "term", "salt") \
            .write.partitionBy("bucket").parquet(pjoin(delta_dir, "segments"))

    def job_tombstones():
        # tombstones: EVERY updated doc kills its older generations
        spark.sparkContext.setJobDescription("ingest: tombstones")
        updates.select("doc_id").distinct().write.parquet(
            pjoin(delta_dir, "tombstones")
        )

    # docs table: exact N/avgdl (crash-safe swap; Iceberg MERGE analog)
    docs_path = pjoin(index_dir, "docs")
    docs_tmp = docs_path + ".tmp"
    doc_cols = ["doc_id"] + (["field"] if fielded else []) + ["doc_len"]

    def job_docs():
        spark.sparkContext.setJobDescription("ingest: docs merge")
        storage.restore_swap(fs, docs_path)
        old = spark.read.parquet(docs_path)
        upd_ids = updates.select("doc_id").distinct()
        new_rows = tok.select(*doc_cols).withColumn("gen", F.lit(gen)) \
            .withColumn("deleted", F.lit(False))
        # the anti-join is on doc_id alone even when fielded: an upsert
        # replaces the whole document, so every (doc, field) row dies
        merged = old.join(upd_ids, "doc_id", "left_anti") \
            .unionByName(new_rows)
        merged.write.mode("overwrite").parquet(docs_tmp)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f_ in [pool.submit(job_segments), pool.submit(job_tombstones),
                   pool.submit(job_docs)]:
            f_.result()
    storage.swap_dir(fs, docs_tmp, docs_path)

    # follow-up aggregates (docs stats need the merged docs table; the
    # posting count needs the written segments) — independent of each
    # other, so they overlap too
    def job_doc_stats():
        spark.sparkContext.setJobDescription("ingest: docs stats")
        row = spark.read.parquet(docs_path).agg(
            F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        field_stats = None
        if fielded:
            # zero-fill from the manifest's field names first: a batch
            # that deletes a field's last live documents must write that
            # field as n_docs == 0 — dropping it (or writing {}) would
            # make readers fall back to stale base-manifest norms
            # (ADVICE r4)
            field_stats = {
                f: {"n_docs": 0, "avgdl": 0.0} for f in m["field_stats"]
            }
            for r in spark.read.parquet(docs_path).groupBy("field").agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("doc_len").alias("avgdl"),
            ).collect():
                field_stats[r["field"]] = {
                    "n_docs": int(r["n"]), "avgdl": float(r["avgdl"] or 0.0)
                }
        return row, field_stats

    def job_posting_count():
        from ..operators.segments import SEGMENT_READ_SCHEMA

        spark.sparkContext.setJobDescription("ingest: posting count")
        return int(
            spark.read.schema(SEGMENT_READ_SCHEMA)
            .parquet(pjoin(delta_dir, "segments"))
            .agg(F.sum("count")).collect()[0][0] or 0
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_stats = pool.submit(job_doc_stats)
        f_pc = pool.submit(job_posting_count)
        row, field_stats = f_stats.result()
        posting_count = f_pc.result()
    manifest = {
        "gen": gen,
        "snapshot_id": m.get("snapshot_id", ""),
        "n_docs": int(row["n"]),
        "avgdl": float(row["avgdl"] or 0.0),
        "n_upserts": (n_upserts if n_upserts is not None
                      else int(live.count())),
        "n_deletes": int(n_deletes),
        "posting_count": posting_count,
        **({"field_stats": field_stats} if field_stats is not None else {}),
        "build_metrics": {"secs": round(time.time() - t0, 3)},
        "committed": True,
    }
    storage.write_json_atomic(
        fs, pjoin(index_dir, f"delta_manifest_{gen:06d}.json"), manifest
    )
    return manifest


def fold_deltas(spark: SparkSession, index_dir: str) -> dict:
    """Compact all delta generations into a fresh exact base (the Lucene
    segment-merge analog): decode, drop superseded versions, re-plan block
    counts from exact df, re-encode into a NEW versioned base dir, commit
    it with ONE index.json write, then garbage-collect the old base and
    the folded deltas.

    Crash safety: the manifest commit is the only state transition — a
    crash before it leaves the old base + deltas fully live (the v{k}
    dirs are orphans rebuilt on retry); a crash after it leaves stale
    old dirs/manifests that readers ignore (min_gen) and the next fold's
    GC removes."""
    from ..operators.wand import (
        _DECODED_SCHEMA,
        _POS_SCHEMA,
        SegmentIndex,
        _decode_blocks,
    )

    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    idx = SegmentIndex.load(spark, index_dir)
    with_pos = bool(m.get("positions", False))
    fielded = bool(m.get("field_stats"))
    # the decoders drop superseded versions (the tombstone rule)
    tomb = idx._tomb()

    if with_pos:
        pos_rows = idx._segments(None) \
            .select("term", "gen", "docs_vb", "tfs_vb", "pos_vb") \
            .mapInPandas(functools.partial(_decode_blocks, tomb=tomb,
                                           positions=True), _POS_SCHEMA)
        # re-aggregate per-(term, doc) positions; exact doc_len from the
        # live docs table. A fielded docs table is keyed (doc, field) —
        # the composite term's prefix recovers the field for the join, so
        # each posting gets ITS field's doc_len, not a cross product.
        regrouped = pos_rows.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        if fielded:
            from ..operators.fields import FIELD_SEP

            doc_lens = spark.read.parquet(pjoin(index_dir, "docs")) \
                .select("doc_id", "field", "doc_len")
            post = regrouped.withColumn(
                "field", F.substring_index("term", FIELD_SEP, 1)
            ).join(doc_lens, ["doc_id", "field"]).drop("field")
        else:
            doc_lens = spark.read.parquet(pjoin(index_dir, "docs")) \
                .select("doc_id", "doc_len")
            post = regrouped.join(doc_lens, "doc_id")
    else:
        post = idx._segments(None) \
            .select("term", "gen", "docs_vb", "tfs_vb", "dlens_vb") \
            .mapInPandas(functools.partial(_decode_blocks, tomb=tomb),
                         _DECODED_SCHEMA) \
            .select("term", "doc_id", "tf", "doc_len")
    old_seg_dir = m.get("seg_dir", "segments")
    old_stats = m.get("stats_file", "stats.parquet")
    version = int(m.get("base_version", 0)) + 1
    new_seg_dir = f"segments_v{version}"
    new_stats = f"stats_v{version}.parquet"

    stats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    planned = plan_block_counts(stats, m["target_block"], m["nb_max"])
    fs.rmtree(pjoin(index_dir, new_stats))  # orphan of a crashed fold
    planned.write.mode("overwrite").parquet(pjoin(index_dir, new_stats))

    salted = post.join(
        F.broadcast(
            spark.read.parquet(pjoin(index_dir, new_stats)).select("term", "nb")
        ), "term"
    ).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("nb").cast("long")).cast("int")
    )
    new_segs = encode_segments(
        salted, with_pos, est_postings=int(m.get("posting_count", 0)) or None
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(m["n_buckets"])).cast("int")
    )
    fs.rmtree(pjoin(index_dir, new_seg_dir))
    new_segs.coalesce(4).sortWithinPartitions("bucket", "term", "salt") \
        .write.partitionBy("bucket").mode("overwrite").parquet(pjoin(index_dir, new_seg_dir))

    # independent scalar aggregates over different sources — overlap
    # them (same driver-thread back-fill as apply_upserts / stage 1)
    from concurrent.futures import ThreadPoolExecutor

    def agg_docs():
        spark.sparkContext.setJobDescription("fold: docs stats")
        return spark.read.parquet(pjoin(index_dir, "docs")).agg(
            F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]

    def agg_pc():
        spark.sparkContext.setJobDescription("fold: posting count")
        return int(
            spark.read.parquet(pjoin(index_dir, new_seg_dir))
            .agg(F.sum("count")).collect()[0][0] or 0
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_row, f_pc = pool.submit(agg_docs), pool.submit(agg_pc)
        row, pc = f_row.result(), f_pc.result()

    folded_gens = idx.generations
    m.update(
        n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0),
        posting_count=pc, folded=True,
        seg_dir=new_seg_dir, stats_file=new_stats, base_version=version,
        min_gen=max(folded_gens) if folded_gens else int(m.get("min_gen", 0)),
    )
    if fielded:  # per-field norms recomputed exactly from the live docs
        fstats = {f: {"n_docs": 0, "avgdl": 0.0} for f in m["field_stats"]}
        for r in spark.read.parquet(pjoin(index_dir, "docs")) \
                .groupBy("field").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg("doc_len").alias("avgdl")).collect():
            fstats[r["field"]] = {
                "n_docs": int(r["n"]), "avgdl": float(r["avgdl"] or 0.0)
            }
        m["field_stats"] = fstats
    # THE commit: one atomic manifest write flips base + retires deltas
    storage.write_json_atomic(fs, pjoin(index_dir, "index.json"), m)

    # best-effort GC — stale leftovers are ignored by readers (min_gen /
    # seg_dir pointers) and removed by the next fold if this crashes.
    # The MANIFEST deletions stay synchronous: a follow-up load()'s
    # listdir-then-read would race a background delete into a
    # FileNotFoundError (they are tiny files — removing them is cheap).
    # Only the big directory trees move to a background thread, so the
    # driver-serial rmtree tail never sits on the fold's critical path;
    # once the manifests are gone no reader can reach those dirs.
    for name in fs.listdir(index_dir):
        if name.startswith("delta_manifest_") and name.endswith(".json"):
            fs.rmtree(pjoin(index_dir, name))
    min_gen = m["min_gen"]
    delta_root = pjoin(index_dir, "delta")

    def _gc():
        fs.rmtree(pjoin(index_dir, old_seg_dir))
        fs.rmtree(pjoin(index_dir, old_stats))
        # only the folded generations: an apply_upserts that runs while
        # this thread does commits delta/gen=min_gen+1 under the same root
        for name in fs.listdir(delta_root) if fs.isdir(delta_root) else []:
            if name.startswith("gen=") and int(name[4:]) <= min_gen:
                fs.rmtree(pjoin(delta_root, name))

    import threading

    # non-daemon: callers never wait on it, but interpreter exit does —
    # so a process that folds-then-exits cannot truncate the removal
    # half-way through a tree (a half-removed orphan is still safe, the
    # next fold re-GCs; completing is just tidier and keeps test
    # teardown from ever racing a live rmtree)
    threading.Thread(target=_gc, daemon=False).start()
    return m


def merge_delta_tier(spark: SparkSession, index_dir: str) -> dict | None:
    """Two-level merge (the north rule's delta-tier compaction): squash
    ALL live delta generations into ONE new generation WITHOUT touching
    the base — cost is O(delta volume), vs fold_deltas' O(whole index)
    base rewrite. The Lucene analog is a tiered minor merge of small
    segments; fold_deltas stays the major merge. Returns the merged
    generation's manifest, or None with fewer than 2 live generations.

    Semantics: the merged generation M+1 (M = max live gen) carries the
    latest in-set version of every delta posting and the UNION of the
    merged tombstone sets. Bumping tombstones to M+1 is sound because
    after the merge no generation exists strictly between the base and
    M+1: base postings a merged tombstone used to kill at gen g are
    killed at M+1 the same way, and in-set supersedes were resolved
    during the merge itself.

    Crash safety — the commit ladder is correct at every step:
      1. merged segments + tombstones written under delta/gen={M+1}
         (uncommitted orphan if we die here; rebuilt on retry);
      2. delta_manifest_{M+1} committed. A reader that still sees the
         old generations TOO gets correct results: every old posting's
         doc has a tombstone in the merged set (apply_upserts writes one
         per updated doc), so the old copy is dropped at decode — only
         Lucene-approximate df transiently double-counts;
      3. index.json gains tier_min_gen=M (atomic) — generations <= M are
         retired for readers regardless of leftover manifests;
      4. best-effort GC of the merged generations' dirs + manifests.
    A crash between 2 and 3 is healed by the next call (it re-commits
    the pointer without re-merging). Time travel into the merged range
    raises on load, exactly like pre-fold generations."""
    import pandas as pd

    from ..operators.segments import SEGMENT_READ_SCHEMA
    from ..operators.wand import (
        _DECODED_SCHEMA,
        _POS_SCHEMA,
        _decode_blocks,
        _read_tombstones,
    )

    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    min_gen = int(m.get("min_gen", 0))
    tier_min = int(m.get("tier_min_gen", 0))
    eff_min = max(min_gen, tier_min)

    def _commit_pointer(new_tier_min: int, retired: list[int]) -> None:
        m["tier_min_gen"] = new_tier_min
        storage.write_json_atomic(fs, pjoin(index_dir, "index.json"), m)
        for g in retired:  # best-effort GC; readers ignore leftovers
            fs.rmtree(pjoin(index_dir, "delta", f"gen={g}"))
            fs.rmtree(pjoin(index_dir, f"delta_manifest_{g:06d}.json"))

    manifests = {
        int(storage.read_json(fs, pjoin(index_dir, name))["gen"]): name
        for name in fs.listdir(index_dir)
        if name.startswith("delta_manifest_") and name.endswith(".json")
        and storage.read_json(fs, pjoin(index_dir, name)).get("committed")
    }
    # heal a crash between steps 2 and 3: a committed merged generation
    # whose merged_from are still live — re-commit the pointer only
    for g, name in sorted(manifests.items()):
        dm = storage.read_json(fs, pjoin(index_dir, name))
        mf = dm.get("merged_from")
        if mf and g > eff_min and max(mf) > tier_min:
            _commit_pointer(max(mf), [x for x in mf if x > eff_min])
            return dm
    gens = sorted(g for g in manifests if g > eff_min)
    if len(gens) < 2:
        return None
    new_gen = gens[-1] + 1
    t0 = time.time()
    with_pos = bool(m.get("positions", False))

    seg_parts = [
        spark.read.schema(SEGMENT_READ_SCHEMA)
        .parquet(pjoin(index_dir, "delta", f"gen={g}", "segments"))
        .withColumn("gen", F.lit(g))
        for g in gens
    ]
    segs = seg_parts[0]
    for p in seg_parts[1:]:
        segs = segs.unionByName(p)
    # the decoders drop in-set superseded versions (the tombstone rule)
    tomb = _read_tombstones(spark, index_dir, gens)

    live = segs.select(
        "term", "gen", "docs_vb", "tfs_vb", "dlens_vb"
    ).mapInPandas(functools.partial(_decode_blocks, tomb=tomb),
                  _DECODED_SCHEMA)
    if with_pos:
        # positions rejoin their (term, gen, doc): after the in-set
        # supersede each (term, doc) survives in exactly one generation
        pos = segs.select(
            "term", "gen", "docs_vb", "tfs_vb", "pos_vb"
        ).mapInPandas(functools.partial(_decode_blocks, tomb=tomb,
                                        positions=True), _POS_SCHEMA)
        pos_grp = pos.groupBy("term", "gen", "doc_id").agg(
            F.sort_array(F.collect_list("pos")).alias("positions")
        )
        post = live.join(pos_grp, ["term", "gen", "doc_id"]).select(
            "term", "doc_id", "tf", "positions", "doc_len")
    else:
        post = live.select("term", "doc_id", "tf", "doc_len")

    # salt with the base block plan, unseen terms → one block (the same
    # rule apply_upserts used when these postings were first written)
    nbs = spark.read.parquet(
        pjoin(index_dir, m.get("stats_file", "stats.parquet"))
    ).select("term", "nb")
    salted = post.join(F.broadcast(nbs), "term", "left").withColumn(
        "nb", F.coalesce(F.col("nb"), F.lit(1))
    ).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("nb").cast("long")).cast("int")
    )
    merged_dir = pjoin(index_dir, "delta", f"gen={new_gen}")
    fs.rmtree(merged_dir)  # uncommitted orphan of a crashed merge
    merged_segs = encode_segments(salted, with_pos, partitions=2).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(m["n_buckets"])).cast("int")
    )
    merged_segs.coalesce(2).sortWithinPartitions("bucket", "term", "salt") \
        .write.partitionBy("bucket").parquet(pjoin(merged_dir, "segments"))
    spark.createDataFrame(pd.DataFrame({"doc_id": tomb[0]}), "doc_id long") \
        .write.parquet(pjoin(merged_dir, "tombstones"))

    posting_count = int(
        spark.read.schema(SEGMENT_READ_SCHEMA)
        .parquet(pjoin(merged_dir, "segments"))
        .agg(F.sum("count")).collect()[0][0] or 0
    )
    # cumulative stats: the merge does not change the live doc set, so
    # the highest merged generation's exact post-batch stats still hold
    top = storage.read_json(fs, pjoin(index_dir, manifests[gens[-1]]))
    manifest = {
        "gen": new_gen,
        "snapshot_id": top.get("snapshot_id", ""),
        "n_docs": int(top["n_docs"]),
        "avgdl": float(top["avgdl"]),
        "n_upserts": sum(
            int(storage.read_json(
                fs, pjoin(index_dir, manifests[g])).get("n_upserts", 0))
            for g in gens),
        "n_deletes": sum(
            int(storage.read_json(
                fs, pjoin(index_dir, manifests[g])).get("n_deletes", 0))
            for g in gens),
        "posting_count": posting_count,
        "merged_from": gens,
        **({"field_stats": top["field_stats"]}
           if top.get("field_stats") is not None else {}),
        "build_metrics": {"secs": round(time.time() - t0, 3)},
        "committed": True,
    }
    storage.write_json_atomic(
        fs, pjoin(index_dir, f"delta_manifest_{new_gen:06d}.json"), manifest
    )
    _commit_pointer(gens[-1], gens)
    return manifest


def maybe_compact(spark: SparkSession, index_dir: str,
                  max_gens: int = 8) -> dict | None:
    """Tiered merge policy (the Lucene TieredMergePolicy analog): when
    the number of LIVE delta generations reaches ``max_gens``, squash
    them into one via merge_delta_tier; otherwise no-op. Every query
    scans each live generation's segment files, so an unbounded ingest
    loop grows read amplification linearly — this bounds it at O(1)
    amortized merge cost per batch (each posting is re-merged once per
    max_gens batches), with fold_deltas remaining the explicit major
    merge. Returns the merged manifest or None."""
    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    eff_min = max(int(m.get("min_gen", 0)), int(m.get("tier_min_gen", 0)))
    live = [g for g in _committed_gens(fs, index_dir) if g > eff_min]
    if len(live) < max_gens:
        return None
    return merge_delta_tier(spark, index_dir)


def stream_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "content",
    doc_col: str = "doc_id",
    deleted_col: str | None = None,
    fields: dict | None = None,
    compact_after: int | None = None,
):
    """Structured Streaming wrapper: micro-batch upserts via foreachBatch
    (the Kafka-consumer analog). Use .trigger(availableNow) semantics for
    drain-and-stop; checkpointing makes restarts resume from offsets the
    way the reference resumes from consumer-group offsets. ``fields``
    must be the build's field mapping when the index is fielded.
    ``compact_after`` turns on the tiered merge policy: after any batch
    that leaves >= that many live delta generations, they are squashed
    into one (see maybe_compact). Replay-safe: a replayed batch after a
    crash sees the already-merged state and upserts idempotently on top."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_upserts(spark, index_dir, batch_df, text_col, doc_col,
                      deleted_col, fields=fields)
        if compact_after is not None:
            maybe_compact(spark, index_dir, max_gens=compact_after)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
