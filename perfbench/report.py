"""Metric assembly: end-to-end metrics for untraced runs, per-layer
metrics for traced ones, with human-readable lines on stdout first."""

from __future__ import annotations

from perfbench import harness
from perfbench.queries import ALL_KINDS
from perfbench.workloads import LIVE_STEP_KINDS, LIVE_STEPS

# name -> unit. Every workload reports every one of these.
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "phrase_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s", "session.cold_build_s": "s",
        "corpus.generate_s": "s", "corpus.docs": "count",
        "corpus.bytes": "bytes",
        "analyzer.tokenize_s": "s", "analyzer.tokens": "count",
        "segments.corpus_stats_s": "s", "segments.staging_write_s": "s",
        "segments.stats_write_s": "s", "segments.docs_write_s": "s",
        "segments.stage1_s": "s", "segments.stage2_encode_s": "s",
        "segments.spark_jobs": "count", "segments.postings": "count",
        "segments.blocks": "count", "segments.index_bytes": "bytes",
        "codec.decode_calls": "count", "codec.postings_decoded": "count",
        "codec.decode_s": "s",
        "wand.load_s": "s", "wand.parquet_reads": "count",
        "wand.parquet_bytes_read": "bytes",
        "wand.search_tail_s": "s", "wand.search_tail_pct": "%",
        "wand.search_ops": "count",
    }
    for kind in ALL_KINDS:
        u[f"wand.{kind}.p50_s"] = "s"
        u[f"wand.{kind}.spark_jobs_per_op"] = "count"
        u[f"wand.{kind}.fast_path_share"] = "ratio"
    u.update({
        "ingest.apply_upserts_s": "s", "ingest.upsert_visible_s": "s",
        "ingest.spark_jobs_per_batch": "count",
        "ingest.write_bytes_per_input_byte": "ratio",
        "ingest.delta_generations": "count",
    })
    for step in range(1, LIVE_STEPS + 1):
        for kind in LIVE_STEP_KINDS:
            u[f"ingest.gen{step}.{kind}.spark_jobs"] = "count"
    u.update({
        "ingest.tier_merge_s": "s", "ingest.tier_merge_spark_jobs": "count",
        "ingest.fold_s": "s", "ingest.fold_spark_jobs": "count",
        "ingest.fold_bytes_rewritten": "bytes",
        "storage.json_commits": "count", "storage.dir_swaps": "count",
        "storage.rmtrees": "count", "storage.op_s": "s",
        "trace.spans": "count", "trace.overhead_s": "s",
    })
    return u


PER_LAYER = per_layer_units()


def _line(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"metric {name} = {value:.6g} {unit}{note}", flush=True)


def build(args, r, settings: dict, setup_s: float, peak_rss_mb: float) -> dict:
    searches = r.e2e_search
    tail_v, tail_pct = harness.tail(searches)
    e2e = {
        "setup_s": setup_s,
        "query_p50_s": harness.median(searches),
        "phrase_p50_s": harness.median(r.e2e_phrase),
        "ops_per_s": r.ops / r.op_time if r.op_time else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    error_rate = r.failed / max(1, r.attempted)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"docs={args.docs} master={settings['master']} "
          f"driver_memory={settings['driver_memory']} trace={args.trace}",
          flush=True)
    for name, unit in END_TO_END.items():
        _line(name, e2e[name], unit)
    _line("query_tail_s", tail_v, "s",
          f"  (p{tail_pct} of {len(searches)} searches)")
    _line("error_rate", error_rate, "ratio",
          f"  ({r.failed} of {r.attempted} ops)")
    for name in ("ingest.upsert_visible_s", "ingest.tier_merge_s",
                 "ingest.fold_s"):
        if name in r.layer:
            _line(name.split(".", 1)[1], r.layer[name], "s")
    for what in r.mismatches:
        print(f"MISMATCH {what}", flush=True)

    if args.trace:
        layer = layer_metrics(r, tail_v, tail_pct, len(searches))
        for name, unit in PER_LAYER.items():
            _line(name, layer[name], unit)
        metrics = {n: {"value": layer[n], "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in END_TO_END.items()}
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}


def layer_metrics(r, tail_v: float, tail_pct: int, n_search: int) -> dict:
    t = r.tracer
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(r.layer)
    layer.update(t.counters)
    for kind in ALL_KINDS:
        jobs = r.kind_jobs.get(kind, [])
        layer[f"wand.{kind}.p50_s"] = harness.median(r.lat.get(kind, []))
        if jobs:
            layer[f"wand.{kind}.spark_jobs_per_op"] = sum(jobs) / len(jobs)
            layer[f"wand.{kind}.fast_path_share"] = \
                sum(1 for j in jobs if j == 0) / len(jobs)
    layer["wand.search_tail_s"] = tail_v
    layer["wand.search_tail_pct"] = tail_pct
    layer["wand.search_ops"] = n_search
    layer["codec.decode_s"] = t.outermost_time("codec.")
    layer["storage.op_s"] = t.outermost_time("storage.")
    layer["trace.spans"] = len(t.spans)
    layer["trace.overhead_s"] = t.overhead_estimate_s()
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return layer
