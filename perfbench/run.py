"""Benchmark of the segment-index engine: one workload, one seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints each end-to-end metric with its
unit, then, as the last line of stdout, one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` wraps the
layer entry points, reports the per-layer metrics instead and writes the
spans to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "content_rw_elasticsearch_spark"
DEFAULT_DOCS = 5_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["serve", "live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                   help="corpus size (the benchmark uses the default)")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="self-check: falsify one oracle answer")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the "
              "root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness, report, workloads
    from perfbench.tracing import Tracer

    work = ROOT / ".perfbench_work" / "run"
    workloads.clean(work)
    work.mkdir(parents=True)
    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        tracer.install_layer_probes()
    r = workloads.Run(root=ROOT, work=work, seed=args.seed,
                      seconds=args.seconds, n_docs=args.docs, tracer=tracer,
                      corrupt_oracle=args.corrupt_oracle)
    settings = harness.host_settings()
    try:
        with harness.RssSampler() as rss:
            setup_s = workloads.WORKLOADS[args.workload](r, settings)
            harness.join_engine_threads()
    except Exception:  # noqa: BLE001 - report, clean up, fail the run
        traceback.print_exc()
        if r.spark is not None:
            harness.stop_session(r.spark)
        return 1
    finally:
        tracer.unwrap_all()
    harness.stop_session(r.spark)
    harness.join_engine_threads()
    harness.log("session stopped")

    result = report.build(args, r, settings, setup_s, rss.peak_mb)
    if tracer.enabled:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
    workloads.clean(work)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
