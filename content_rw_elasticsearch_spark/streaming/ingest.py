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

Two executors write the same rows, for ingest and compaction alike: on
a local store, work under the query path's DRIVER_MAX_POSTINGS runs the
kernels in-process with pyarrow reads and writes; anything else runs
them as Spark jobs. An upsert batch is sized by one bounded Arrow
collect; a fold or tier merge by its input postings, summed from the
manifests (no scan). Both executors write the same files, and the
commits that follow them (docs/ swap, manifests) are shared code.

Streaming form: ``stream_ingest`` wraps the same function in Structured
Streaming's foreachBatch — micro-batch upserts with checkpointed offsets,
the direct analog of the reference's Kafka consumer loop
(message_handler.go:38-61) with consumer-group offsets.

``fold_deltas`` is the compaction: re-block base+deltas, drop superseded
versions, into a fresh base with EXACT recomputed statistics (df
approximation ends here — same lifecycle as a Lucene segment merge).
``merge_delta_tier`` squashes the delta generations alone. Both run one
block-level kernel (segments._compact_rows): on the driver once over
all input rows (segments.compact_local), on Spark per group of
(term, salt mod m) (segments.compact_segments), where the shuffle moves
compressed blocks, never posting rows.

Scale notes: the docs-table rewrite per batch is the sandbox stand-in for
an Iceberg ``MERGE INTO`` (same dataflow, engine-managed file swap); delta
segments are small and term-bucketed like the base, so query-side file
pruning still applies; fold still rewrites the whole base — it is the
amortized merge, run off-peak. Only an index under DRIVER_MAX_POSTINGS
folds in the driver; a large one folds on the cluster, as before.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .. import storage
from ..functions.hashing import xxh64_long_np
from ..operators import postings as P
from ..operators.segments import (
    SEGMENT_COLS,
    SEGMENT_READ_SCHEMA,
    _PART,
    _encode_groups,
    compact_local,
    compact_segments,
    encode_segments,
    live_term_counts,
    live_term_counts_local,
    plan_block_counts,
    plan_block_counts_np,
    read_local_segments,
    write_local_segments,
    write_segments,
)
from ..operators.wand import DRIVER_MAX_POSTINGS
from ..storage import join as pjoin


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

    Two executors write the same rows, chosen by the query path's rule
    (wand.DRIVER_MAX_POSTINGS). On a local store, one bounded Arrow
    collect of the analyzed batch (the row limit is the bound over the
    current avgdl) decides: when it holds at most DRIVER_MAX_POSTINGS
    tokens and the docs table (the current n_docs rows) fits under the
    bound too, the posting, salting and encoding kernels run in-process
    and pyarrow writes the files (_apply_on_driver). Otherwise, and on
    a URI store, the same kernels run as Spark jobs (_apply_on_spark).
    Either way the crash order is: the delta segments, the tombstones
    and the merged docs.tmp are written; docs/ is swapped in only after
    all three succeed; the delta manifest is committed last.

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
    if ts_col:
        w = Window.partitionBy("doc_id").orderBy(F.desc(ts_col))
        updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    committed = storage.live_delta_manifests(fs, index_dir)
    gen = max(list(committed) + [int(m.get("min_gen", 0))]) + 1
    # the docs table as of now: the latest generation's stats
    cur = committed.get(gen - 1, m)
    t0 = time.time()
    batch = None
    if _on_driver(index_dir, int(cur["n_docs"])):
        batch = _small_batch(updates, is_deleted, text_col, fields,
                             m.get("analyzer", "simple"), float(cur["avgdl"]))
    if batch is not None:
        stats = _apply_on_driver(fs, index_dir, m, gen, batch, fields,
                                 ts_col is not None)
    else:
        stats = _apply_on_spark(spark, fs, index_dir, m, gen, updates,
                                is_deleted, text_col, fields, ts_col)
    if stats is None:
        return None
    manifest = {
        "gen": gen,
        "snapshot_id": m.get("snapshot_id", ""),
        **stats,
        "build_metrics": {"secs": round(time.time() - t0, 3)},
        "committed": True,
    }
    storage.write_json_atomic(
        fs, pjoin(index_dir, f"delta_manifest_{gen:06d}.json"), manifest
    )
    return manifest


def _on_driver(index_dir: str, postings: int) -> bool:
    """The driver executor's admission rule (the query path's): a local
    store and at most DRIVER_MAX_POSTINGS postings — or, for
    apply_upserts' first check, docs-table rows."""
    return "://" not in index_dir and postings <= DRIVER_MAX_POSTINGS


def _small_batch(updates: DataFrame, is_deleted, text_col: str,
                 fields: dict | None, analyzer: str, avgdl: float):
    """The analyzed batch as one Arrow table — doc_id, deleted and the
    token column(s): ``tokens``, or one prefixed column per field, NULL
    on rows that are not live — when it holds at most
    DRIVER_MAX_POSTINGS tokens; else None. The collect is bounded: its
    row limit is the bound over the tokens a row is expected to carry."""
    from ..functions.analyzer import analyzer_column
    from ..operators.fields import prefixed_tokens

    live = ~is_deleted
    if fields:
        toks = [F.when(live, prefixed_tokens(f, c, analyzer))
                .alias(f"tokens{i}") for i, (f, c) in enumerate(fields.items())]
    else:
        toks = [F.when(live, analyzer_column(text_col, analyzer))
                .alias("tokens")]
    limit = max(1, int(DRIVER_MAX_POSTINGS / max(1.0, avgdl * len(toks))))
    spark = updates.sparkSession
    spark.sparkContext.setJobDescription("ingest: collect batch")
    tab = updates.select("doc_id", is_deleted.alias("deleted"), *toks) \
        .limit(limit + 1).toArrow()
    spark.sparkContext.setJobDescription(None)
    if tab.num_rows > limit:
        return None
    tokens = sum(int(pc.sum(pc.list_value_length(tab.column(i))).as_py() or 0)
                 for i in range(2, tab.num_columns))
    return tab if tokens <= DRIVER_MAX_POSTINGS else None


def _apply_on_driver(fs, index_dir: str, m: dict, gen: int, batch,
                     fields: dict | None, reduced: bool) -> dict | None:
    """apply_upserts' driver executor over the collected batch
    (_small_batch): the doc-local posting kernel, the stats file's block
    counts, _encode_groups, and pyarrow writes through
    storage.write_parquet. Returns the manifest's batch stats."""
    if batch.num_rows == 0:
        return None
    ids = batch.column("doc_id").to_numpy()
    upd_ids = np.unique(ids)
    if not reduced and upd_ids.size != ids.size:
        raise ValueError(
            f"batch has {ids.size - upd_ids.size} duplicate doc_id rows; "
            "pass ts_col= to reduce to last-writer-wins or pre-dedupe"
        )
    deleted = batch.column("deleted")
    live = pc.fill_null(pc.invert(deleted), False)
    tok = batch.filter(live)
    # one (doc_id[, field], tokens, doc_len) row per live doc and field;
    # the token columns follow doc_id and deleted, in field order
    parts = [pa.table({
        "doc_id": tok.column("doc_id"),
        **({"field": pa.array([f] * tok.num_rows, pa.string())}
           if fields else {}),
        "tokens": tok.column(2 + i),
        "doc_len": pc.list_value_length(tok.column(2 + i)),
    }) for i, f in enumerate(fields or [None])]
    rows = pa.concat_tables(parts)
    with_pos = bool(m.get("positions", False))
    segs = _encode_delta(
        P.doc_local_postings(rows.to_pandas(), with_pos), with_pos,
        pjoin(index_dir, m.get("stats_file", "stats.parquet")))

    delta_dir = pjoin(index_dir, "delta", f"gen={gen}")
    fs.rmtree(delta_dir)  # uncommitted partial batch: rebuild
    write_local_segments(fs, segs, m["n_buckets"],
                         pjoin(delta_dir, "segments"))
    storage.write_parquet(fs, pjoin(delta_dir, "tombstones", _PART),
                          pa.table({"doc_id": pa.array(upd_ids, pa.int64())}))
    docs_path = pjoin(index_dir, "docs")
    docs_tmp = docs_path + ".tmp"
    storage.restore_swap(fs, docs_path)
    schema = _docs_schema(bool(fields))
    old = pq.read_table(docs_path, schema=schema)
    new = rows.drop_columns(["tokens"]).append_column(
        "gen", pa.array(np.full(rows.num_rows, gen, np.int32))
    ).append_column("deleted", pa.array(np.zeros(rows.num_rows, bool)))
    # the anti-join is on doc_id alone even when fielded: an upsert
    # replaces the whole document, so every (doc, field) row dies
    docs = pa.concat_tables([
        old.filter(pc.invert(pc.is_in(old.column("doc_id"),
                                      pa.array(upd_ids, pa.int64())))),
        new.cast(schema)])
    fs.rmtree(docs_tmp)
    storage.write_parquet(fs, pjoin(docs_tmp, _PART), docs)
    storage.swap_dir(fs, docs_tmp, docs_path)

    def norms(lens) -> dict:
        return {"n_docs": len(lens),
                "avgdl": float(pc.mean(lens).as_py() or 0.0)}

    return {
        **norms(docs.column("doc_len")),
        "n_upserts": int(pc.sum(live).as_py() or 0),
        "n_deletes": int(pc.sum(deleted).as_py() or 0),
        "posting_count": int(segs["count"].sum()),
        **({"field_stats": {f: norms(docs.column("doc_len").filter(
            pc.equal(docs.column("field"), f))) for f in m["field_stats"]}}
           if fields else {}),
    }


def _encode_delta(post, with_pos: bool, stats_path: str) -> pd.DataFrame:
    """Segment rows of a delta generation's postings (doc_local_postings;
    None when there is none), salted with the stats file's block
    counts."""
    if post is None:
        return pd.DataFrame(columns=SEGMENT_COLS)
    nb = _stats_nb(stats_path, post["term"])
    post["nb"] = nb
    post["salt"] = xxh64_long_np(post["doc_id"].to_numpy()) % nb
    return pd.concat(list(_encode_groups(post, with_pos, [])))


def _stats_nb(stats_path: str, terms: pd.Series) -> np.ndarray:
    """The stats file's block count of each of ``terms`` (a pyarrow read
    filtered to them) — one block for a term it lacks."""
    if terms.empty:  # pyarrow refuses an empty "in" filter
        return np.ones(0, np.int64)
    plan = pq.read_table(stats_path, columns=["term", "nb"], filters=[
        ("term", "in", list(pd.unique(terms)))]).to_pandas()
    return terms.map(plan.set_index("term")["nb"]).fillna(1) \
        .to_numpy(np.int64)


def _apply_on_spark(spark: SparkSession, fs, index_dir: str, m: dict,
                    gen: int, updates: DataFrame, is_deleted,
                    text_col: str, fields: dict | None,
                    ts_col: str | None) -> dict | None:
    """apply_upserts' distributed executor: the same kernels as Spark
    jobs. Returns the manifest's batch stats."""
    fielded = fields is not None
    n_upserts: int | None = None
    if ts_col:
        if updates.isEmpty():
            return None
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
        P.build_positional_postings_vb(tok) if with_pos
        else P.build_postings_doclocal(tok)
    )
    nbs = _block_plan(spark, index_dir, m.get("stats_file", "stats.parquet"))
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
    # LAST, strictly-sequential step. The posting count and the docs
    # stats are Observation metrics of the writes, not read back.
    seg_obs = Observation("ingest: posting count")

    def job_segments():
        spark.sparkContext.setJobDescription("ingest: delta segments")
        segs = encode_segments(salted, with_pos, partitions=2)
        segs.withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(m["n_buckets"])).cast("int")) \
            .observe(seg_obs, F.sum("count").alias("postings")) \
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
    names = list(m["field_stats"]) if fielded else []
    docs_obs = Observation("ingest: docs stats")

    def job_docs():
        spark.sparkContext.setJobDescription("ingest: docs merge")
        storage.restore_swap(fs, docs_path)
        old = spark.read.schema(from_arrow_schema(_docs_schema(fielded))) \
            .parquet(docs_path)
        upd_ids = updates.select("doc_id").distinct()
        new_rows = tok.select(*doc_cols).withColumn("gen", F.lit(gen)) \
            .withColumn("deleted", F.lit(False))
        # the anti-join is on doc_id alone even when fielded: an upsert
        # replaces the whole document, so every (doc, field) row dies
        merged = old.join(upd_ids, "doc_id", "left_anti") \
            .unionByName(new_rows)
        # one count and mean per manifest field: a field whose last live
        # documents this batch deletes must be written as n_docs == 0 —
        # dropping it would make readers fall back to stale base-manifest
        # norms (ADVICE r4)
        per_field = [agg for i, f in enumerate(names) for agg in (
            F.count(F.when(F.col("field") == f, 1)).alias(f"n{i}"),
            F.avg(F.when(F.col("field") == f, F.col("doc_len")))
            .alias(f"avgdl{i}"))]
        merged.observe(docs_obs, F.count(F.lit(1)).alias("n"),
                       F.avg("doc_len").alias("avgdl"), *per_field) \
            .write.mode("overwrite").parquet(docs_tmp)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f_ in [pool.submit(job_segments), pool.submit(job_tombstones),
                   pool.submit(job_docs)]:
            f_.result()
    storage.swap_dir(fs, docs_tmp, docs_path)
    spark.sparkContext.setJobDescription(None)
    row = docs_obs.get
    return {
        "n_docs": int(row["n"]),
        "avgdl": float(row["avgdl"] or 0.0),
        "n_upserts": (n_upserts if n_upserts is not None
                      else int(live.count())),
        "n_deletes": int(n_deletes),
        "posting_count": int(seg_obs.get["postings"] or 0),
        **({"field_stats": {f: {"n_docs": int(row[f"n{i}"]),
                                "avgdl": float(row[f"avgdl{i}"] or 0.0)}
                            for i, f in enumerate(names)}}
           if fielded else {}),
    }


def _docs_schema(fielded: bool):
    """Arrow schema of the docs table (the build's Spark types)."""
    return pa.schema([("doc_id", pa.int64())]
                     + ([("field", pa.string())] if fielded else [])
                     + [("doc_len", pa.int32()), ("gen", pa.int32()),
                        ("deleted", pa.bool_())])


def _segment_rows(spark: SparkSession, dirs: "list[tuple[int, str]]"
                  ) -> DataFrame:
    """Segment rows of the given (gen, segment dir)s, each tagged with its
    generation — the explicit schema keeps empty delta dirs (delete-only
    batches) readable."""
    rows = None
    for g, d in dirs:
        part = spark.read.schema(SEGMENT_READ_SCHEMA).parquet(d) \
            .withColumn("gen", F.lit(g))
        rows = part if rows is None else rows.unionByName(part)
    return rows


def _block_plan(spark: SparkSession, index_dir: str, stats_file: str
                ) -> DataFrame:
    """(term, nb) of a stats file (explicit schema: no inference job)."""
    return spark.read.schema("term string, nb int").parquet(
        pjoin(index_dir, stats_file))


def fold_deltas(spark: SparkSession, index_dir: str) -> dict:
    """Compact all delta generations into a fresh exact base (the Lucene
    segment-merge analog) at block level: a counts pass (live postings
    per block, summed per term) gives exact df and the new block plan
    (stats_v{k}); the compaction kernel then re-blocks base and delta
    rows — tombstoned postings dropped, positions carried as bytes,
    doc_len from dlens_vb — into a NEW versioned base dir, committed
    with ONE index.json write; the old base and the folded deltas are
    garbage-collected after. Terms with no live posting are dropped.
    n_docs/avgdl (and per-field norms) are the exact post-batch
    statistics of the highest folded generation's manifest.

    Two executors write the same files, chosen by the query path's rule
    from the manifests alone: on a local store whose base and live delta
    postings (their manifests' posting_count) are at most
    DRIVER_MAX_POSTINGS, the fold runs in-process with pyarrow reads and
    writes (_fold_on_driver); otherwise, and on a URI store, as Spark
    jobs (_fold_on_spark).

    Crash safety: the manifest commit is the only state transition — a
    crash before it leaves the old base + deltas fully live (the v{k}
    dirs are orphans rebuilt on retry); a crash after it leaves stale
    old dirs/manifests that readers ignore (min_gen) and the next fold's
    GC removes."""
    from ..operators.wand import _read_tombstones

    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    live = storage.live_delta_manifests(fs, index_dir, m)
    folded_gens = sorted(live)
    old_seg_dir = m.get("seg_dir", "segments")
    old_stats = m.get("stats_file", "stats.parquet")
    version = int(m.get("base_version", 0)) + 1
    new_seg_dir = f"segments_v{version}"
    new_stats = f"stats_v{version}.parquet"
    dirs = [(0, pjoin(index_dir, old_seg_dir))] + [
        (g, pjoin(index_dir, "delta", f"gen={g}", "segments"))
        for g in folded_gens]
    # the tombstone rule drops superseded versions in both passes
    tomb = _read_tombstones(spark, index_dir, folded_gens)
    fs.rmtree(pjoin(index_dir, new_stats))  # orphans of a crashed fold
    fs.rmtree(pjoin(index_dir, new_seg_dir))
    postings = sum(int(dm.get("posting_count", 0))
                   for dm in [m, *live.values()])
    if _on_driver(index_dir, postings):
        pc = _fold_on_driver(fs, index_dir, m, dirs, tomb, new_seg_dir,
                             new_stats)
    else:
        pc = _fold_on_spark(spark, index_dir, m, dirs, tomb, new_seg_dir,
                            new_stats, postings)

    top = live[folded_gens[-1]] if folded_gens else m
    m.update(
        n_docs=int(top["n_docs"]), avgdl=float(top["avgdl"]),
        posting_count=pc, folded=True,
        seg_dir=new_seg_dir, stats_file=new_stats, base_version=version,
        min_gen=folded_gens[-1] if folded_gens else int(m.get("min_gen", 0)),
    )
    if top.get("field_stats") is not None:
        m["field_stats"] = top["field_stats"]
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


def _fold_on_driver(fs, index_dir: str, m: dict, dirs, tomb,
                    new_seg_dir: str, new_stats: str) -> int:
    """fold_deltas' driver executor: the segment rows of ``dirs`` read
    with pyarrow, df from their live postings, the block plan, the
    compaction kernel over them as one group, pyarrow writes. Returns
    the posting count."""
    rows = read_local_segments(dirs)
    df = live_term_counts_local(rows, tomb)
    nb = plan_block_counts_np(df.to_numpy(), m["target_block"], m["nb_max"])
    storage.write_parquet(fs, pjoin(index_dir, new_stats, _PART), pa.table({
        "term": pa.array(df.index, pa.string()),
        "df": pa.array(df.to_numpy(), pa.int64()),
        "nb": pa.array(nb, pa.int32())}))
    # a term with no live posting writes no block
    nb_out = rows["term"].map(pd.Series(nb, index=df.index)).fillna(1)
    write_local_segments(
        fs, compact_local(rows, nb_out.to_numpy(np.int64), tomb,
                          bool(m.get("positions", False))),
        m["n_buckets"], pjoin(index_dir, new_seg_dir))
    return int(df.sum())


def _fold_on_spark(spark: SparkSession, index_dir: str, m: dict, dirs,
                   tomb, new_seg_dir: str, new_stats: str,
                   postings: int) -> int:
    """fold_deltas' distributed executor: live_term_counts and
    compact_segments as Spark jobs. Returns the posting count."""
    rows = _segment_rows(spark, dirs)
    spark.sparkContext.setJobDescription("fold: counts + block plan")
    plan_block_counts(live_term_counts(rows, tomb), m["target_block"],
                      m["nb_max"]) \
        .write.mode("overwrite").parquet(pjoin(index_dir, new_stats))
    spark.sparkContext.setJobDescription("fold: compact segments")
    _blocks, pc = write_segments(
        compact_segments(rows, _block_plan(spark, index_dir, new_stats),
                         tomb, bool(m.get("positions", False)),
                         prior=_block_plan(spark, index_dir, m.get(
                             "stats_file", "stats.parquet")),
                         est_postings=postings),
        m["n_buckets"], pjoin(index_dir, new_seg_dir))
    spark.sparkContext.setJobDescription(None)
    return pc


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
    during the merge itself. The delta blocks are re-blocked by the
    compaction kernel with the base block plan (unseen terms one block,
    the rule apply_upserts wrote them with) and the in-set tombstones.

    Two executors write the same files, chosen from the manifests alone:
    on a local store whose live delta postings (their manifests'
    posting_count) are at most DRIVER_MAX_POSTINGS, the merge runs
    in-process with pyarrow reads and writes (_merge_on_driver);
    otherwise, and on a URI store, as Spark jobs (_merge_on_spark).

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
    from ..operators.wand import _read_tombstones

    fs = storage.fs_for(index_dir, spark)
    m = storage.read_json(fs, pjoin(index_dir, "index.json"))
    tier_min = int(m.get("tier_min_gen", 0))
    eff_min = max(int(m.get("min_gen", 0)), tier_min)

    def _commit_pointer(new_tier_min: int, retired: list[int]) -> None:
        m["tier_min_gen"] = new_tier_min
        storage.write_json_atomic(fs, pjoin(index_dir, "index.json"), m)
        for g in retired:  # best-effort GC; readers ignore leftovers
            fs.rmtree(pjoin(index_dir, "delta", f"gen={g}"))
            fs.rmtree(pjoin(index_dir, f"delta_manifest_{g:06d}.json"))

    manifests = storage.live_delta_manifests(fs, index_dir, m)
    # heal a crash between steps 2 and 3: a committed merged generation
    # whose merged_from are still live — re-commit the pointer only
    for g, dm in sorted(manifests.items()):
        mf = dm.get("merged_from")
        if mf and max(mf) > tier_min:
            _commit_pointer(max(mf), [x for x in mf if x > eff_min])
            return dm
    gens = sorted(manifests)
    if len(gens) < 2:
        return None
    new_gen = gens[-1] + 1
    t0 = time.time()
    dirs = [(g, pjoin(index_dir, "delta", f"gen={g}", "segments"))
            for g in gens]
    # the kernel drops in-set superseded versions (the tombstone rule)
    tomb = _read_tombstones(spark, index_dir, gens)
    merged_dir = pjoin(index_dir, "delta", f"gen={new_gen}")
    fs.rmtree(merged_dir)  # uncommitted orphan of a crashed merge
    postings = sum(int(manifests[g].get("posting_count", 0)) for g in gens)
    if _on_driver(index_dir, postings):
        posting_count = _merge_on_driver(fs, index_dir, m, dirs, tomb,
                                         merged_dir)
    else:
        posting_count = _merge_on_spark(spark, index_dir, m, dirs, tomb,
                                        merged_dir, postings)
    # cumulative stats: the merge does not change the live doc set, so
    # the highest merged generation's exact post-batch stats still hold
    top = manifests[gens[-1]]
    manifest = {
        "gen": new_gen,
        "snapshot_id": top.get("snapshot_id", ""),
        "n_docs": int(top["n_docs"]),
        "avgdl": float(top["avgdl"]),
        "n_upserts": sum(int(manifests[g].get("n_upserts", 0)) for g in gens),
        "n_deletes": sum(int(manifests[g].get("n_deletes", 0)) for g in gens),
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


def _merge_on_driver(fs, index_dir: str, m: dict, dirs, tomb,
                     merged_dir: str) -> int:
    """merge_delta_tier's driver executor: the delta rows read with
    pyarrow, the compaction kernel over them as one group with the base
    block plan, pyarrow writes of the segments and the merged
    tombstones. Returns the posting count."""
    rows = read_local_segments(dirs)
    nb_out = _stats_nb(pjoin(index_dir, m.get("stats_file", "stats.parquet")),
                       rows["term"])
    segs = compact_local(rows, nb_out, tomb, bool(m.get("positions", False)))
    write_local_segments(fs, segs, m["n_buckets"],
                         pjoin(merged_dir, "segments"))
    storage.write_parquet(fs, pjoin(merged_dir, "tombstones", _PART),
                          pa.table({"doc_id": pa.array(tomb[0], pa.int64())}))
    return int(segs["count"].sum())


def _merge_on_spark(spark: SparkSession, index_dir: str, m: dict, dirs,
                    tomb, merged_dir: str, postings: int) -> int:
    """merge_delta_tier's distributed executor: compact_segments and the
    tombstone write as Spark jobs. Returns the posting count."""
    rows = _segment_rows(spark, dirs)

    def job_segments() -> int:
        spark.sparkContext.setJobDescription("tier merge: compact segments")
        return write_segments(
            compact_segments(rows, _block_plan(
                spark, index_dir, m.get("stats_file", "stats.parquet")),
                tomb, bool(m.get("positions", False)),
                est_postings=postings),
            m["n_buckets"], pjoin(merged_dir, "segments"))[1]

    def job_tombstones():
        spark.sparkContext.setJobDescription("tier merge: tombstones")
        spark.createDataFrame(pd.DataFrame({"doc_id": tomb[0]}),
                              "doc_id long") \
            .write.parquet(pjoin(merged_dir, "tombstones"))

    # independent writes overlap, as in apply_upserts
    with ThreadPoolExecutor(max_workers=2) as pool:
        segs, tombs = pool.submit(job_segments), pool.submit(job_tombstones)
        tombs.result()
        return segs.result()


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
    if len(storage.live_delta_manifests(fs, index_dir, m)) < max_gens:
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
