"""Two-arm, phase-isolating micro-bench (guide §1.4).

NOT the driver's bench — bench.py stays frozen. This harness builds the
same segment index once, then times each reference query repeatedly on
BOTH query arms: as routed (small queries run the kernels on the driver)
and with ``driver_max_postings = 0`` (the same kernels per salt-class
group on the distributed executor), each exhaustive and forced-pruned,
plus ``search_synonyms`` and ``segment_bool_topk`` (the same BM25 kernel
through its score and match groups). A positional build adds slop-0 /
slop-1 ``phrase_search`` and ``phrase_prefix_search`` on both arms.
Every timing reports min, median
and the Spark jobs one call launches (job group + status tracker), so a
change that trades a job for driver work shows up either way.
The lifecycle section times ``apply_upserts`` (two 2% batches of
updates, deletes and inserts), ``merge_delta_tier`` and ``fold_deltas``
on the plain and the positional index, each repetition on a fresh copy
of the built index, then the same calls on a fresh copy through a
``file://`` URI (``apply_upserts_uri``, ``merge_delta_tier_uri``,
``fold_deltas_uri``: the Spark route; a local path under
DRIVER_MAX_POSTINGS takes the driver route); jobs the engine submits
from its own driver threads carry no job group and are counted too.

Usage:  SPARK_GRAFT_SF_DIR=<dir holding documents.parquet> \\
        SPARK_GRAFT_CPUS=4 python bench_extra.py [reps]
Prints one JSON line: per query {arm: {exhaustive, pruned}, meta}, per
scorer and phrase kind {arm: timing}; arm is "routed" or "distributed";
per index kind {lifecycle call: timing}.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from content_rw_elasticsearch_spark.operators.boolquery import segment_bool_topk  # noqa: E402
from content_rw_elasticsearch_spark.operators.segments import build_segments  # noqa: E402
from content_rw_elasticsearch_spark.operators.wand import SegmentIndex  # noqa: E402
from content_rw_elasticsearch_spark.queries import REFERENCE_QUERIES  # noqa: E402
from content_rw_elasticsearch_spark.session import get_spark  # noqa: E402
from content_rw_elasticsearch_spark.streaming import ingest  # noqa: E402

ARMS = {"routed": None, "distributed": 0}  # driver_max_postings override
SCORERS = {
    "synonyms": lambda ix: ix.search_synonyms(
        "hash scan", {"hash": ["join", "table"], "scan": ["vector"]}, k=10),
    "bool": lambda ix: segment_bool_topk(
        ix, must="hash", should="join row scan", must_not="dup", k=10),
}
PHRASES = {
    "phrase0": lambda ix: ix.phrase_search("hash join"),
    "phrase1": lambda ix: ix.phrase_search("hash join", slop=1),
    "phrase_prefix": lambda ix: ix.phrase_prefix_search("hash jo"),
}
_GROUPS = itertools.count()


def timed(spark, call, reps: int) -> dict:
    """min / median seconds of ``reps`` calls after one warm-up call,
    plus the Spark jobs the last call launched."""
    sc = spark.sparkContext
    call()
    secs = []
    for _ in range(reps):
        group = f"bx-{next(_GROUPS)}"
        sc.setJobGroup(group, "bench_extra")
        t = time.time()
        call()
        secs.append(time.time() - t)
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"min": round(min(secs), 4),
            "med": round(statistics.median(secs), 4), "n": len(secs),
            "jobs": jobs}


def lifecycle(spark, corpus, index_dir: str, reps: int) -> dict:
    """min / median seconds and Spark jobs per call of apply_upserts,
    merge_delta_tier and fold_deltas, each repetition on a fresh copy of
    ``index_dir``. The first repetition is a warm-up."""
    from pyspark.sql import functions as F

    tracker = spark.sparkContext.statusTracker()
    batches = []
    for k in range(2):  # 2% of the docs each: updates, deletes, inserts
        part = corpus.filter(F.pmod("doc_id", F.lit(50)) == k)
        kind = F.pmod(F.xxhash64("doc_id"), F.lit(4))
        batches.append(part.select(
            F.when(kind == 3, F.col("doc_id") + F.lit(10**12))
            .otherwise(F.col("doc_id")).alias("doc_id"),
            F.concat("text", F.lit(" lifecycle")).alias("text"),
            (kind == 0).alias("deleted")).toPandas())
    calls = {
        "apply_upserts": lambda work, b: ingest.apply_upserts(
            spark, work, spark.createDataFrame(b), "text", "doc_id",
            "deleted"),
        "merge_delta_tier": lambda work, _b: ingest.merge_delta_tier(
            spark, work),
        "fold_deltas": lambda work, _b: ingest.fold_deltas(spark, work),
        # the same calls on a file:// URI take the Spark route
        "apply_upserts_uri": lambda work, b: ingest.apply_upserts(
            spark, "file://" + work + "_uri", spark.createDataFrame(b), "text",
            "doc_id", "deleted"),
        "merge_delta_tier_uri": lambda work, _b: ingest.merge_delta_tier(
            spark, "file://" + work + "_uri"),
        "fold_deltas_uri": lambda work, _b: ingest.fold_deltas(
            spark, "file://" + work + "_uri"),
    }
    secs: dict = {name: [] for name in calls}
    jobs: dict = {}
    work = index_dir + "_lifecycle"
    for rep in range(reps + 1):
        for w in (work, work + "_uri"):
            shutil.rmtree(w, ignore_errors=True)
            shutil.copytree(index_dir, w)
        for name, b in [("apply_upserts", b) for b in batches] + [
                ("merge_delta_tier", None), ("fold_deltas", None)] + [
                ("apply_upserts_uri", b) for b in batches] + [
                ("merge_delta_tier_uri", None), ("fold_deltas_uri", None)]:
            group = f"bx-{next(_GROUPS)}"
            before = set(tracker.getJobIdsForGroup(None))
            spark.sparkContext.setJobGroup(group, "bench_extra")
            t = time.time()
            calls[name](work, b)
            dt = time.time() - t
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            if rep:
                secs[name].append(dt)
                jobs[name] = len(tracker.getJobIdsForGroup(group)) + len(
                    set(tracker.getJobIdsForGroup(None)) - before)
    for w in (work, work + "_uri"):
        shutil.rmtree(w, ignore_errors=True)
    return {name: {"min": round(min(s), 4),
                   "med": round(statistics.median(s), 4), "n": len(s),
                   "jobs": jobs[name]} for name, s in secs.items()}


def on_arm(ix: SegmentIndex, arm: str, call):
    """``call`` with the index's driver_max_postings set for ``arm``."""
    def run():
        saved = ix.driver_max_postings
        if ARMS[arm] is not None:
            ix.driver_max_postings = ARMS[arm]
        try:
            return call()
        finally:
            ix.driver_max_postings = saved
    return run


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    import duckdb
    n_hint = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    shuffle_parts = max(cpus * 4, n_hint // 25_000)
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=shuffle_parts)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out_dir = "/tmp/bx_idx"

    build_secs = []
    n_builds = int(os.environ.get("BX_BUILDS", "2"))
    for _ in range(n_builds):
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.time()
        manifest = build_segments(corpus, out_dir, text_col="text",
                                  doc_col="doc_id", n_buckets=8,
                                  snapshot_id=sf_dir)
        build_secs.append(round(time.time() - t0, 3))

    idx = SegmentIndex.load(spark, out_dir)
    res: dict = {"sf": sf_dir, "cpus": cpus, "build_secs": build_secs,
                 "build_metrics": manifest.get("build_metrics"),
                 "prune_min_postings": idx.prune_min_postings}
    qres: dict = {}
    for name, spec in REFERENCE_QUERIES.items():
        sc = spark.sparkContext
        terms = sorted(set(spec["query"].lower().split()))
        meta = idx._meta(terms)
        row = {"sum_df": int(meta["count"].sum()) if not meta.empty else None,
               "meta": timed(spark, lambda: idx._meta(terms), reps)}

        def search(prune: bool):
            return lambda: idx.search(spec["query"], k=spec["k"],
                                      mode=spec["mode"],
                                      prune=prune).collect()

        def pruned():
            saved = idx.prune_min_postings
            idx.prune_min_postings = 0
            try:
                return search(True)()
            finally:
                idx.prune_min_postings = saved

        for arm in ARMS:
            sc.setJobDescription(f"{name}: {arm}")
            row[arm] = {
                "exhaustive": timed(spark, on_arm(idx, arm, search(False)),
                                    reps),
                "pruned": timed(spark, on_arm(idx, arm, pruned), reps),
            }
        sc.setJobDescription(None)
        qres[name] = row
    res["queries"] = qres
    res["scorers"] = {
        kind: {arm: timed(spark, on_arm(idx, arm,
                                        lambda: call(idx).collect()), reps)
               for arm in ARMS}
        for kind, call in SCORERS.items()
    }

    pos_dir = "/tmp/bx_pos_idx"
    shutil.rmtree(pos_dir, ignore_errors=True)
    build_segments(corpus, pos_dir, text_col="text", doc_col="doc_id",
                   n_buckets=8, snapshot_id=sf_dir, with_positions=True)
    pix = SegmentIndex.load(spark, pos_dir)
    res["phrases"] = {
        kind: {arm: timed(spark, on_arm(pix, arm,
                                        lambda: call(pix).collect()), reps)
               for arm in ARMS}
        for kind, call in PHRASES.items()
    }
    res["lifecycle"] = {"plain": lifecycle(spark, corpus, out_dir, reps),
                        "positional": lifecycle(spark, corpus, pos_dir, reps)}
    spark.stop()
    print(json.dumps(res))


if __name__ == "__main__":
    main()
