"""Benchmark entry point.

    python3 clickbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the repository root and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``). The line before it is a report
under the workload's own metric names, with the host stamp; a traced run
also writes its spans to ``.bench_out/``. See clickbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from clickbench.common import (  # noqa: E402
    ROOT,
    RssSampler,
    RunDir,
    Tracer,
    host_stamp,
    percentile_rule_selftest,
    process_start_epoch,
    start_spark,
    stop_spark,
)

WORKLOADS = ("ingest_steady", "query_mix")
# Per-layer families a workload measures; the others read 0 on it.
LAYER_FAMILIES = {
    "ingest_steady": ("process", "session", "datagen", "releaser", "processor", "streaming",
                      "sinks", "spark", "trace"),
    "query_mix": ("process", "session", "datagen", "plans", "spark", "operators", "trace"),
}


class Context:
    """What a workload gets from the harness."""

    def __init__(self, spark, tracer, run_dir, seed, seconds, trace, process_start):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.process_start = process_start
        self.setup_s: float | None = None

    def mark_setup_done(self) -> None:
        """Called just before the first timed operation."""
        self.setup_s = time.time() - self.process_start


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metric_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main(argv=None) -> int:
    args = _args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    process_start = process_start_epoch()
    spec = _metric_spec()
    run_dir = RunDir(args.workload, args.seed)
    rss = RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        stamp = host_stamp(args.seed)
        ctx = Context(spark, Tracer(bool(args.trace)), run_dir, args.seed, args.seconds,
                      bool(args.trace), process_start)
        if args.workload == "ingest_steady":
            from clickbench import ingest as workload
        else:
            from clickbench import querymix as workload
        result = workload.run(ctx)
    finally:
        peak_mb = rss.stop()
        if spark is not None:
            stop_spark(spark)
        run_dir.cleanup()

    errors = result["errors"] + percentile_rule_selftest()
    e2e = result["e2e"]
    if args.trace:
        layers = {"session.start_s": session_s, "process.peak_rss_mb": peak_mb, **result["layers"],
                  **{f"trace.{k}": v for k, v in e2e.items() if k in ("op_p50_s", "pass_s")}}
        families = LAYER_FAMILIES[args.workload]
        names = {m["name"] for m in spec["per_layer"]}
        unknown = sorted(set(layers) - names)
        missing = sorted(n for n in names - set(layers) if n.split(".")[0] in families)
        if unknown or missing:
            raise RuntimeError(f"per-layer metrics unknown {unknown} missing {missing}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        path = ROOT / ".bench_out" / f"trace-{args.workload}-{args.seed}.json"
        ctx.tracer.write(path, stamp)
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for e in errors:
        print(f"clickbench: {e}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "host": stamp,
                      "report": {**result["report"], "setup_s": e2e["setup_s"],
                                 "peak_rss_mb": peak_mb},
                      "errors": errors[:20]}))
    print(json.dumps({"correct": not errors, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
