#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload feed_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. The engine is imported from the working
directory and driven only through its public functions. The last line of
standard output is the result:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (spans are written under
``.perfbench/traces/``). A per-layer metric whose layer the workload
does not run reads 0. The line before the result holds the
workload-specific numbers under their own names. ``--cores 1`` gives the
single-threaded baseline.

Workloads, metrics and the layer-to-metric map are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
SETUPS = 3
WORKLOADS = ("feed_stream", "backfill_day")

END_TO_END = {
    "latency_p50_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
}

PER_LAYER = {
    "driver.peak_rss_mb": "MB",
    "session.start_s": "s",
    "pipelines.plan_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes_per_op": "bytes",
    **{f"stream.{q}.{m}": "ms" for q in ("bronze", "silver", "gold")
       for m in ("batch_ms_p50", "planning_ms_p50", "add_batch_ms_p50", "offsets_ms_p50",
                 "commit_ms_p50")},
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.source_reads_per_file": "count",
    "stream.backlog_files_end": "count",
    "stream.state_rows_end": "count",
    "stream.state_mem_bytes_end": "bytes",
    "feed.freshness_p90_s": "s",
    "gen.late_p90_s": "s",
    "backfill.silver_keep_ratio": "ratio",
    "backfill.files_written": "count",
    "backfill.output_bytes": "bytes",
}


class Context:
    """What a workload gets: its seed, time budget, scratch directory,
    tracer and a session factory that records session start times."""

    def __init__(self, args, work: str):
        from harness import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.setups = SETUPS
        self.work = work
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.spark = None
        self.session_starts: list[float] = []

    def start_session(self):
        from harness import start_session

        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start") as rec:
            self.spark = start_session(self.cores)
            self.tracer.sc = self.spark.sparkContext
        self.session_starts.append(rec["dur_s"])
        return self.spark


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "real_time_data_pipeline_spark")):
        print("run from the repository root: real_time_data_pipeline_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import real_time_data_pipeline_spark  # noqa: F401  -- fail before any set-up

    from harness import adopt_orphans, reap_children

    adopt_orphans()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Spark's block manager, shuffle files and Python temp files stay in
    # the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    import backfill
    import feed
    from harness import jvm_pid, median, peak_rss_mb, shutdown_jvm

    ctx = Context(args, work)
    workload = {"feed_stream": feed, "backfill_day": backfill}[args.workload]
    try:
        res = workload.run(ctx)
        rss = peak_rss_mb([jvm_pid(), os.getpid()])
    finally:
        try:
            if ctx.spark is not None:
                shutdown_jvm(ctx.spark)
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["metrics"])
    e2e["setup_s"] = median(res["setup_times"])
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(res["layers"])
    layers["driver.peak_rss_mb"] = rss
    layers["session.start_s"] = median(ctx.session_starts)
    if args.trace:
        ctx.tracer.write(os.path.join(base, "traces", f"{ctx.tracer.run_id}.jsonl"))
    detail = {"workload": args.workload, "seed": args.seed, "cores": args.cores,
              "trace": args.trace, "setup_times_s": res["setup_times"],
              "end_to_end": e2e, "driver.peak_rss_mb": rss, **res["detail"]}
    print(json.dumps(detail, default=str))
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in chosen.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
