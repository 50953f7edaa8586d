"""The `serve` and `live` workloads.

Both are closed loops with one client: each call into the engine waits
for its answer before the next is issued, and one SparkSession serves
that single user.

Set-up (timed as ``setup_s``): start the session, generate the seeded
corpus with ``synthesize_corpus`` + ``with_doc_id`` and write it to
Parquet, run the cold first positional ``build_segments`` (reported on
its own as ``session.cold_build_s``), load the index, and warm it with
one query of every kind. Query draws and oracle answers are computed
before the warm-up and stay outside every timed window, ``setup_s``
included.
"""

from __future__ import annotations

import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import harness, queries
from perfbench.harness import now
from perfbench.queries import PHRASE_KINDS, PROBE_KIND, SEARCH_KINDS, Query
from perfbench.tracing import Tracer

# live: upsert batches applied before the tier merge and fold. A batch
# holds 2% of the corpus, the batch-to-corpus ratio of 2,000-doc batches
# on a 100k-doc corpus. Half of it updates existing docs, a quarter
# inserts new ones and a quarter deletes, so that every batch runs all
# three write paths; the split is a choice, not measured traffic.
LIVE_STEPS = 2
BATCH_SHARE = 0.02
BATCH_SPLIT = (0.5, 0.25, 0.25)  # updated, inserted, deleted
# query kinds run in rounds after every batch, while deltas are live;
# their Spark jobs are reported per delta generation. phrase1 is left
# out: under live deltas it runs the same distributed phrase_search plan
# as phrase0 (same Spark jobs per generation), and a run of every
# workload must fit the benchmark's wall-clock budget.
LIVE_STEP_KINDS = (PROBE_KIND, "and_skewed", "phrase0", "phrase_prefix")


@dataclass
class Run:
    root: Path
    work: Path
    seed: int
    seconds: float
    n_docs: int
    tracer: Tracer
    corrupt_oracle: bool = False
    spark: object = None
    jobs: harness.JobCounter | None = None
    idx: object = None
    layer: dict[str, float] = field(default_factory=dict)
    # per query kind: latencies and Spark jobs
    lat: dict[str, list[float]] = field(default_factory=dict)
    kind_jobs: dict[str, list[int]] = field(default_factory=dict)
    # latencies that feed the end-to-end query/phrase medians
    e2e_search: list[float] = field(default_factory=list)
    e2e_phrase: list[float] = field(default_factory=list)
    ops: int = 0
    op_time: float = 0.0
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)

    @property
    def corpus_dir(self) -> str:
        return str(self.work / "corpus")

    @property
    def index_dir(self) -> str:
        return str(self.work / "index")

    # -- bookkeeping ----------------------------------------------------
    def timed(self, label: str, fn, measured: bool = True):
        """Run one engine operation in its own job group; returns
        (result, seconds, spark_jobs). Jobs are counted after the clock
        stops. Set-up calls pass ``measured=False`` and stay out of the
        op counts."""
        group = self.jobs.begin(label)
        with self.tracer.op(group), self.tracer.span(label):
            t = now()
            out = fn()
            dt = now() - t
        if measured:
            self.ops += 1
            self.op_time += dt
            self.attempted += 1
        return out, dt, self.jobs.count(group)

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            self.mismatches.append(what)

    def query(self, q: Query, check=None) -> float:
        """Issue one query; record its latency and Spark jobs.
        ``check(answer rows)`` decides whether the answer is right."""
        ans, dt, jobs = self.timed(f"wand.{q.kind}",
                                   lambda: queries.run(self.idx, q))
        self.lat.setdefault(q.kind, []).append(dt)
        self.kind_jobs.setdefault(q.kind, []).append(jobs)
        if check is not None:
            self.check(f"{q.kind} {q.text!r}", check(queries.normalize(q, ans)))
        return dt

    def oracle_query(self, q: Query, want: list[tuple]) -> float:
        return self.query(q, lambda got: same_answer(q, got, want))


def same_answer(q: Query, got: list[tuple], want: list[tuple]) -> bool:
    """Rank-identical doc ids; scores equal to the 4-decimal rounding
    both sides apply; phrase frequencies exactly equal."""
    if [g[0] for g in got] != [w[0] for w in want]:
        return False
    if q.op == "search":
        return all(abs(g[1] - w[1]) <= 1.5e-4 for g, w in zip(got, want))
    return [g[1] for g in got] == [w[1] for w in want]


def oracle_connection(documents_sql: str):
    """DuckDB connection with the oracle's ``documents`` table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE TABLE documents AS {documents_sql}")
    return con


def oracle_answers(r: Run, con, qs: dict[str, Query]) -> dict[str, list]:
    want = queries.expected(con, qs)
    if r.corrupt_oracle:  # self-check hook: one answer made wrong
        kind = next(k for k in SEARCH_KINDS if want[k])
        d, s = want[kind][0]
        want[kind] = [(d, s + 1.0)] + want[kind][1:]
    return want


# -- set-up -------------------------------------------------------------
def setup(r: Run, settings: dict) -> float:
    """Session, corpus, cold build, load. Returns seconds spent."""
    from content_rw_elasticsearch_spark.operators.segments import build_segments
    from content_rw_elasticsearch_spark.sources.corpus import (
        synthesize_corpus,
        with_doc_id,
    )

    t0 = now()
    with r.tracer.span("session.start"):
        r.spark = harness.start_session(r.root, r.work, settings)
    r.jobs = harness.JobCounter(r.spark)
    r.layer["session.start_s"] = now() - t0
    harness.log(f"session started in {r.layer['session.start_s']:.2f}s")

    t = now()
    with r.tracer.span("corpus.generate"):
        with_doc_id(synthesize_corpus(r.spark, r.n_docs, seed=r.seed)) \
            .write.parquet(r.corpus_dir)
    r.layer["corpus.generate_s"] = now() - t
    harness.log(f"corpus written in {r.layer['corpus.generate_s']:.2f}s")

    corpus = r.spark.read.parquet(r.corpus_dir).select("doc_id", "content")
    manifest, dt, jobs = r.timed("segments.build_segments", lambda: build_segments(
        corpus, r.index_dir, with_positions=True,
        snapshot_id=f"perfbench-{r.seed}"), measured=False)
    r.layer["session.cold_build_s"] = dt
    r.layer["segments.spark_jobs"] = jobs
    bm = manifest.get("build_metrics", {})
    s1 = bm.get("stage1", {})
    for key, name in (("corpus_stats", "corpus_stats_s"),
                      ("staging_write", "staging_write_s"),
                      ("stats_write", "stats_write_s"),
                      ("docs_write", "docs_write_s"), ("secs", "stage1_s")):
        r.layer[f"segments.{name}"] = float(s1.get(key, 0.0))
    r.layer["segments.stage2_encode_s"] = float(bm.get("stage2_secs", 0.0))
    r.layer["segments.postings"] = int(manifest.get("posting_count", 0))
    r.layer["segments.index_bytes"] = harness.dir_bytes(r.index_dir)
    r.layer["segments.blocks"] = segment_blocks(r.index_dir, manifest)
    harness.log(f"cold build in {dt:.2f}s ({jobs} Spark jobs)")

    load(r)
    return now() - t0


def load(r: Run) -> None:
    from content_rw_elasticsearch_spark.operators.wand import SegmentIndex

    r.idx, dt, _ = r.timed("wand.load", lambda: SegmentIndex.load(
        r.spark, r.index_dir), measured=False)
    r.layer["wand.load_s"] = r.layer.get("wand.load_s", 0.0) + dt


def segment_blocks(index_dir: str, manifest: dict) -> int:
    """Encoded blocks = rows of the base segment files (parquet footers)."""
    import pyarrow.parquet as pq

    seg = Path(index_dir) / manifest.get("seg_dir", "segments")
    return sum(pq.read_metadata(p).num_rows for p in seg.rglob("*.parquet"))


def warm_up(r: Run, qs: dict[str, Query], distributed: tuple[str, ...] = ()
            ) -> float:
    """Untimed queries before the window: the first query of a kind in
    a session pays imports and code generation. Every kind runs once as
    routed; the kinds in ``distributed`` run once more with the driver
    fast path switched off, for workloads that later serve them from the
    distributed arm."""
    t = now()
    for q in qs.values():
        queries.run(r.idx, q)
    bound, r.idx.driver_max_postings = r.idx.driver_max_postings, 0
    try:
        for kind in distributed:
            queries.run(r.idx, qs[kind])
    finally:
        r.idx.driver_max_postings = bound
    return now() - t


def corpus_facts(r: Run, con) -> None:
    n, nbytes = con.sql(
        "SELECT count(*), sum(strlen(text)) FROM documents").fetchone()
    r.layer["corpus.docs"] = int(n)
    r.layer["corpus.bytes"] = int(nbytes or 0)


def tokenize_probe(r: Run) -> None:
    """analyzer layer: explode ``analyzer_column`` over the corpus."""
    from pyspark.sql import functions as F

    from content_rw_elasticsearch_spark.functions.analyzer import analyzer_column

    df = r.spark.read.parquet(r.corpus_dir)
    n, dt, _ = r.timed("analyzer.tokenize", lambda: df.select(
        F.explode(analyzer_column("content"))).count(), measured=False)
    r.layer["analyzer.tokenize_s"] = dt
    r.layer["analyzer.tokens"] = n


# -- serve --------------------------------------------------------------
def serve(r: Run, settings: dict) -> float:
    """Read-only mix on the base-only positional index. Searches stay
    under the 2M-posting driver bound (driver fast path); phrase kinds
    run where the engine routes them. Whole rounds of the mix repeat
    until ``seconds`` have passed; every answer is checked."""
    setup_s = setup(r, settings)
    con = oracle_connection(
        f"SELECT doc_id, content AS text FROM read_parquet('{r.corpus_dir}/*.parquet')")
    corpus_facts(r, con)
    qs = queries.draw(queries.df_bands(con, r.n_docs), r.seed)
    want = oracle_answers(r, con, qs)
    con.close()
    harness.log("oracle answers ready")
    setup_s += warm_up(r, qs)
    harness.log(f"set-up done: {setup_s:.2f}s")
    if r.tracer.enabled:
        tokenize_probe(r)
    r.tracer.start_window()

    # a round: each phrase kind once, each after every search kind twice
    # (searches are ~40x cheaper; the repeats give their median and tail
    # enough samples)
    rng = random.Random(r.seed)
    order = []
    for phrase in PHRASE_KINDS:
        for _ in range(2):
            order += rng.sample(SEARCH_KINDS, len(SEARCH_KINDS))
        order.append(phrase)
    t_end = now() + r.seconds
    rounds = 0
    while not rounds or now() < t_end:
        for kind in order:
            q = qs[kind]
            dt = r.oracle_query(q, want[kind])
            (r.e2e_phrase if q.is_phrase else r.e2e_search).append(dt)
        rounds += 1
    harness.log(f"{rounds} rounds of {len(order)} queries")
    return setup_s


# -- live ---------------------------------------------------------------
def make_batches(r: Run) -> list[dict]:
    """Seeded upsert/delete batches. Updated and deleted ids are drawn
    from the corpus without replacement; inserted docs (and the new text
    of updated ones) come from a second ``synthesize_corpus`` draw. Every
    upserted doc carries the batch's marker term."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from content_rw_elasticsearch_spark.sources.corpus import (
        synthesize_corpus,
        with_doc_id,
    )

    n_upd, n_new, n_del = (max(1, round(share * BATCH_SHARE * r.n_docs))
                           for share in BATCH_SPLIT)
    alt_dir = str(r.work / "alt_corpus")
    with_doc_id(synthesize_corpus(r.spark, r.n_docs + LIVE_STEPS * n_new,
                                  seed=r.seed + 1)) \
        .select("doc_id", "content").write.parquet(alt_dir)
    base_ids = pq.read_table(r.corpus_dir, columns=["doc_id"]) \
        .column("doc_id").to_pylist()
    alt = pq.read_table(alt_dir).to_pydict()
    alt_text = dict(zip(alt["doc_id"], alt["content"]))
    base_set = set(base_ids)
    fresh = sorted(d for d in alt_text if d not in base_set)

    rng = random.Random(r.seed * 7919 + 1)
    churn = rng.sample(sorted(base_ids), LIVE_STEPS * (n_upd + n_del))
    new = rng.sample(fresh, LIVE_STEPS * n_new)
    batches = []
    for step in range(LIVE_STEPS):
        marker = f"perfbenchmark{r.seed}b{step}"
        upd = churn[step * n_upd:(step + 1) * n_upd]
        dele = churn[LIVE_STEPS * n_upd + step * n_del:
                     LIVE_STEPS * n_upd + (step + 1) * n_del]
        ins = new[step * n_new:(step + 1) * n_new]
        live_ids = upd + ins
        ids = live_ids + dele
        content = [f"{alt_text[d]} {marker}" for d in live_ids] + [None] * len(dele)
        path = str(r.work / f"batch{step}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "content": pa.array(content, pa.string()),
            "deleted": pa.array([False] * len(live_ids) + [True] * len(dele)),
        }), path)
        batches.append({"path": path, "marker": marker,
                        "live": sorted(live_ids),
                        "bytes": sum(len(c) for c in content if c)})
    return batches


def live(r: Run, settings: dict) -> float:
    """Writes beside reads. Each step applies one seeded batch, reloads
    the index and searches the batch's marker term, which must return
    exactly the batch's live docs. Then rounds of the step's query kinds
    (the marker probe, a skewed AND search, phrase0 and phrase_prefix)
    repeat until the step's share of ``seconds`` has passed; live deltas
    disqualify the fast path, so all of them take the distributed arm,
    and they feed ``query_p50_s`` and ``phrase_p50_s``. At the end the
    delta tier is merged, everything is folded, and every query kind
    runs once more against the oracle on the final corpus state."""
    from content_rw_elasticsearch_spark.streaming import ingest

    setup_s = setup(r, settings)
    t = now()
    with r.tracer.span("corpus.batches"):
        batches = make_batches(r)
    r.layer["corpus.generate_s"] += now() - t
    setup_s += now() - t
    harness.log(f"batches written in {now() - t:.2f}s")

    base = f"read_parquet('{r.corpus_dir}/*.parquet')"
    con = oracle_connection(f"SELECT doc_id, content AS text FROM {base}")
    corpus_facts(r, con)
    qs = queries.draw(queries.df_bands(con, r.n_docs), r.seed)
    con.close()
    harness.log("queries drawn")
    changes = "read_parquet([{}])".format(
        ", ".join(f"'{b['path']}'" for b in batches))
    con = oracle_connection(
        f"SELECT doc_id, content AS text FROM {base} "
        f"WHERE doc_id NOT IN (SELECT doc_id FROM {changes}) UNION ALL "
        f"SELECT doc_id, content FROM {changes} WHERE NOT deleted")
    want = oracle_answers(r, con, qs)
    con.close()
    harness.log("oracle answers ready")
    setup_s += warm_up(r, qs, ("and_skewed", "or_skewed"))
    harness.log(f"set-up done: {setup_s:.2f}s")
    if r.tracer.enabled:
        tokenize_probe(r)
    r.tracer.start_window()

    applied, visible, ingest_jobs = [], [], []
    written = 0
    for step, b in enumerate(batches):
        t0 = now()
        m, dt, jobs = r.timed("ingest.apply_upserts", lambda: ingest.apply_upserts(
            r.spark, r.index_dir, r.spark.read.parquet(b["path"]),
            deleted_col="deleted"))
        applied.append(dt)
        ingest_jobs.append(jobs)
        load(r)
        probe = Query(PROBE_KIND, "search", b["marker"], mode="OR",
                      k=len(b["live"]) + 10)
        step_qs = {**qs, PROBE_KIND: probe}
        seen = {kind: len(r.kind_jobs.get(kind, [])) for kind in LIVE_STEP_KINDS}
        t_end, rounds = None, 0
        while t_end is None or now() < t_end:
            for kind in LIVE_STEP_KINDS:
                q = step_qs[kind]
                if kind == PROBE_KIND:
                    dt = r.query(q, lambda got, want=b["live"]:
                                 sorted(d for d, _ in got) == want)
                else:
                    dt = r.query(q)
                (r.e2e_phrase if q.is_phrase else r.e2e_search).append(dt)
                if t_end is None:  # the first probe made the batch visible
                    visible.append(now() - t0)
                    t_end = now() + r.seconds / LIVE_STEPS
            rounds += 1
        for kind in LIVE_STEP_KINDS:
            r.layer[f"ingest.gen{step + 1}.{kind}.spark_jobs"] = \
                harness.median(r.kind_jobs[kind][seen[kind]:])
        r.layer["ingest.delta_generations"] = len(r.idx.generations)
        written += harness.dir_bytes(
            Path(r.index_dir) / "delta" / f"gen={m['gen']}")
        written += harness.dir_bytes(Path(r.index_dir) / "docs")
        harness.log(f"step {step + 1}: visible after {visible[-1]:.2f}s, "
                    f"{rounds} rounds of {len(LIVE_STEP_KINDS)} queries")

    _, merge_s, merge_jobs = r.timed(
        "ingest.merge_delta_tier",
        lambda: ingest.merge_delta_tier(r.spark, r.index_dir))
    fm, fold_s, fold_jobs = r.timed(
        "ingest.fold_deltas", lambda: ingest.fold_deltas(r.spark, r.index_dir))
    r.layer["ingest.fold_bytes_rewritten"] = (
        harness.dir_bytes(Path(r.index_dir) / fm["seg_dir"])
        + harness.dir_bytes(Path(r.index_dir) / fm["stats_file"]))
    harness.log(f"merge {merge_s:.2f}s, fold {fold_s:.2f}s")
    load(r)
    for kind, q in qs.items():
        r.oracle_query(q, want[kind])
    harness.log("post-fold pass checked")

    r.layer.update({
        "ingest.apply_upserts_s": harness.median(applied),
        "ingest.upsert_visible_s": harness.median(visible),
        "ingest.spark_jobs_per_batch": harness.median(ingest_jobs),
        "ingest.write_bytes_per_input_byte":
            written / max(1, sum(b["bytes"] for b in batches)),
        "ingest.tier_merge_s": merge_s,
        "ingest.tier_merge_spark_jobs": merge_jobs,
        "ingest.fold_s": fold_s,
        "ingest.fold_spark_jobs": fold_jobs,
    })
    return setup_s


WORKLOADS = {"serve": serve, "live": live}


def clean(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
