"""``feed_stream``: a live GBFS station_status feed through the fan-out.

Open loop. A generator process (``gen.land_feed``) first lands an outage
backlog of poll files, then lands more on a fixed schedule whatever the
engine does. The engine runs the reference's fan-out: three queries,
each ``file_stream`` -> ``normalize_raw`` (bronze), ``+ to_silver``
(silver), ``+ to_gold`` (gold), each written by ``parquet_append_sink``
with its own checkpoint, so every file is read by three sources.

- catch-up: backlog rows / time from query start until the last query
  commits the batch holding the last backlog file;
- freshness: per scheduled file, from its due time to the commit of the
  silver micro-batch that consumed it. The file -> batch map comes from
  the silver checkpoint's source log and offset log, the commit time
  from its commit log, so all rows of a file share one sample.
"""

from __future__ import annotations

import bisect
import json
import os
import select
import subprocess
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import gen
from harness import median, percentile, spark_stats, sum_stats

N_STATIONS = 500
BACKLOG_FILES = 80
# Twice the files a scheduled-phase batch holds, so a slow batch is
# absorbed by the next one instead of queueing files behind the cap.
MAX_FILES_PER_TRIGGER = 40
# Offered rate of the scheduled phase: 5,000 rows/s. A silver batch takes
# 1-2 s on 4 cores, so a batch holds about 15-20 files and the backlog
# stays flat.
RATE_FILES_PER_S = 10.0
# Freshness is about 1.5 silver batch times, and a batch takes 1-2 s, so
# 160 files (16 s) give 10 or more batches to average over; with 100
# files the run-to-run spread of the p50 reached 23 %.
MIN_SCHEDULED_FILES = 160
DRAIN_TIMEOUT_S = 20.0
QUERIES = ("bronze", "silver", "gold")


# -- checkpoint reading (pure, unit-tested) -------------------------------
def _log_entries(path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]  # line 0 is the version


def file_batches(checkpoint: str) -> dict[str, int]:
    """Landed file name -> micro-batch id.

    The file source's own log (``sources/0/<n>`` and its ``.compact``
    files) numbers entries by source log offset, which drifts from the
    micro-batch id once the query runs a batch without new files (a
    watermark-only batch). The offset log (``offsets/<batch>``, third
    line ``{"logOffset": n}``) gives each micro-batch's end offset; a
    file belongs to the first micro-batch whose end offset reaches it.
    """
    d = os.path.join(checkpoint, "sources", "0")
    by_offset: dict[str, int] = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if not name.startswith("."):
                for e in _log_entries(os.path.join(d, name)):
                    by_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []  # (end log offset, micro-batch id)
    od = os.path.join(checkpoint, "offsets")
    if os.path.isdir(od):
        for name in os.listdir(od):
            if name.isdigit():
                ends.append((int(_log_entries(os.path.join(od, name))[1]["logOffset"]), int(name)))
    ends.sort()
    out = {}
    for f, off in by_offset.items():
        i = bisect.bisect_left(ends, (off, -1))
        if i < len(ends):
            out[f] = ends[i][1]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> commit time (the commit log file's mtime)."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}


def committed_at(checkpoint: str) -> dict[str, float]:
    """Landed file name -> commit time of the batch that consumed it,
    for files in committed batches only."""
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}


def freshness(landed_log: list[dict], checkpoint: str, now: float) -> tuple[list[float], int]:
    """Freshness samples (seconds) of the scheduled files, and how many
    were never committed. An uncommitted file counts with ``now`` as its
    commit time, so a backlog shows as latency, not as a gap."""
    done = committed_at(checkpoint)
    samples, missing = [], 0
    for e in landed_log:
        if e["due"] is None:
            continue
        t = done.get(e["file"])
        if t is None:
            missing += 1
            t = now
        samples.append(t - e["due"])
    return samples, missing


# -- workload ---------------------------------------------------------------
class ProgressLog(StreamingQueryListener):
    """Keeps every StreamingQueryProgress as parsed JSON (traced runs)."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _read_log(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _start_fanout(spark, tracer, landing: str, out: str):
    from real_time_data_pipeline_spark.pipelines.station_status import normalize_raw, to_gold, to_silver
    from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA
    from real_time_data_pipeline_spark.streaming.sinks import parquet_append_sink
    from real_time_data_pipeline_spark.streaming.sources import file_stream

    with tracer.span("pipelines.plan") as plan:
        frames = {}
        for q in QUERIES:
            src = file_stream(spark, landing, STATION_STATUS_RAW_SCHEMA,
                              max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            df = normalize_raw(src)
            if q != "bronze":
                df = to_silver(df)
            if q == "gold":
                df = to_gold(df)
            frames[q] = df
    with tracer.span("streaming.start"):
        queries = {
            q: parquet_append_sink(frames[q], f"{out}/{q}", f"{out}/_ckpt/{q}", f"perfbench_{q}")
            for q in QUERIES
        }
    return queries, plan["dur_s"]


def setup_once(ctx, warm_landing: str, k: int):
    """Session start plus a batch pass of the three stages over two
    warm-up poll files (the streams themselves start cold, like a
    restarted job)."""
    from real_time_data_pipeline_spark.pipelines.station_status import normalize_raw, to_gold, to_silver
    from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA

    with ctx.tracer.span("setup", rep=k) as rec:
        spark = ctx.start_session()
        bronze = normalize_raw(spark.read.schema(STATION_STATUS_RAW_SCHEMA).parquet(warm_landing))
        for df in (bronze, to_silver(bronze), to_gold(to_silver(bronze))):
            df.write.format("noop").mode("overwrite").save()
    return spark, rec["dur_s"]


def run(ctx) -> dict:
    tracer, work, seconds = ctx.tracer, ctx.work, ctx.seconds
    landing, staging, out = (os.path.join(work, d) for d in ("landing", "staging", "out"))
    warm = os.path.join(work, "warm_landing")
    for d in (landing, staging, out, warm):
        os.makedirs(d, exist_ok=True)
    warm_feed = gen.StationFeed(ctx.seed + 1_000_003, N_STATIONS)
    for i in range(2):
        pq.write_table(warm_feed.next_poll(), os.path.join(warm, f"warm-{i}.parquet"))

    scheduled = max(MIN_SCHEDULED_FILES, round(RATE_FILES_PER_S * seconds))
    log_path = os.path.join(work, "landed.jsonl")
    gen_proc = subprocess.Popen(
        [sys.executable, gen.__file__, landing, staging, log_path, str(ctx.seed),
         str(N_STATIONS), str(BACKLOG_FILES), str(scheduled), repr(RATE_FILES_PER_S)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        setup_times = []
        for k in range(ctx.setups):
            spark, dt = setup_once(ctx, warm, k)
            setup_times.append(dt)
        if (not select.select([gen_proc.stdout], [], [], 120)[0]
                or gen_proc.stdout.readline() != "ready\n"):
            raise RuntimeError("feed generator did not land its backlog")
        backlog = _read_log(log_path)
        backlog_rows = sum(e["rows"] for e in backlog)
        last_backlog = backlog[-1]["file"]

        progress = None
        if tracer.enabled:
            progress = ProgressLog()
            spark.streams.addListener(progress)
        with tracer.span("streaming.run") as run_span:
            t_start = time.time()
            queries, plan_s = _start_fanout(spark, tracer, landing, out)
            ckpts = {q: f"{out}/_ckpt/{q}" for q in QUERIES}
            deadline = time.time() + 120
            while True:
                ends = [committed_at(ckpts[q]).get(last_backlog) for q in QUERIES]
                if all(e is not None for e in ends):
                    break
                if time.time() > deadline:
                    raise RuntimeError("backlog not drained in 120 s")
                _raise_if_failed(queries)
                time.sleep(0.02)
            catchup_s = max(ends) - t_start

            start_at = time.time() + 0.25
            gen_proc.stdin.write(f"{start_at!r}\n")
            gen_proc.stdin.close()
            last_due = start_at + (scheduled - 1) / RATE_FILES_PER_S
            try:
                gen_proc.wait(timeout=max(0.0, last_due - time.time()) + 60)
            except subprocess.TimeoutExpired:
                raise RuntimeError("feed generator overran its schedule") from None
            if gen_proc.returncode != 0:
                raise RuntimeError(f"feed generator exited with {gen_proc.returncode}")
            landed = _read_log(log_path)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                done = [committed_at(c) for c in ckpts.values()]
                if all(e["file"] in d for d in done for e in landed):
                    break
                _raise_if_failed(queries)
                time.sleep(0.02)
            t_end = time.time()
            for q in queries.values():
                q.stop()
        if progress is not None:
            spark.streams.removeListener(progress)

        fresh, missing = freshness(landed, ckpts["silver"], t_end)
        late = [e["landed"] - e["due"] for e in landed if e["due"] is not None]
        attempted = len(landed)
        failed = missing
        checks = _check(spark, tracer, landing, out, landed, ckpts)
        if not checks["ok"]:
            failed = attempted
        res = {
            "attempted": attempted,
            "failed": failed,
            "setup_times": setup_times,
            "metrics": {
                "rows_per_s": backlog_rows / catchup_s,
                "latency_p50_s": median(fresh),
            },
            "detail": {
                "feed.catchup_rows_per_s": backlog_rows / catchup_s,
                "feed.freshness_p50_s": median(fresh),
                "feed.freshness_p90_s": percentile(fresh, 90),
                "feed.freshness_samples": len(fresh),
                "feed.offered_files_per_s": RATE_FILES_PER_S,
                "feed.backlog_rows": backlog_rows,
                "feed.catchup_s_by_query": {q: e - t_start for q, e in zip(QUERIES, ends)},
                "checks": checks,
            },
            "layers": {
                "pipelines.plan_ms": plan_s * 1000.0,
                "feed.freshness_p90_s": percentile(fresh, 90),
                "gen.late_p90_s": percentile(late, 90),
                "stream.backlog_files_end": float(missing),
            },
        }
        if tracer.enabled:
            res["layers"].update(_stream_layers(spark, tracer, queries, ckpts, progress.events,
                                                run_span, landed))
        return res
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
        gen_proc.wait()
        gen_proc.stdin.close()
        gen_proc.stdout.close()


def _raise_if_failed(queries) -> None:
    for q in queries.values():
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"streaming query {q.name} failed: {exc}")


def _check(spark, tracer, landing, out, landed, ckpts) -> dict:
    """bronze rows == rows of the files bronze consumed; silver == batch
    to_silver over the files silver consumed. Multisets are compared by
    count and hash sum."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.pipelines.station_status import normalize_raw, to_silver
    from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA

    def digest(df):
        h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
        return int(r["n"]), str(r["h"])

    with tracer.span("check"):
        rows = {e["file"]: e["rows"] for e in landed}
        consumed = sorted(committed_at(ckpts["silver"]))
        raw = spark.read.schema(STATION_STATUS_RAW_SCHEMA).parquet(
            *[os.path.join(landing, f) for f in consumed])
        silver_out = spark.read.parquet(f"{out}/silver")
        landed_rows = sum(rows[f] for f in committed_at(ckpts["bronze"]))
        n_bronze = spark.read.parquet(f"{out}/bronze").count()
        expected = to_silver(normalize_raw(raw))
        want = digest(expected)
        got = digest(silver_out.select(*expected.columns))
    return {
        "ok": n_bronze == landed_rows and want == got,
        "bronze_rows": n_bronze,
        "landed_rows": landed_rows,
        "silver_rows": got[0],
        "silver_expected_rows": want[0],
        "silver_digest_match": want == got,
    }


def _stream_layers(spark, tracer, queries, ckpts, events, run_span, landed) -> dict:
    by_q: dict[str, list[dict]] = {q: [] for q in QUERIES}
    for p in events:
        name = (p.get("name") or "").replace("perfbench_", "")
        if name in by_q and p.get("numInputRows", 0) > 0:
            by_q[name].append(p)
    layers: dict[str, float] = {}
    for q, ps in by_q.items():
        d = [p.get("durationMs") or {} for p in ps]

        def p50(f):
            return median([f(x) for x in d]) if d else 0.0

        layers[f"stream.{q}.batch_ms_p50"] = p50(lambda x: x.get("triggerExecution", 0))
        layers[f"stream.{q}.planning_ms_p50"] = p50(lambda x: x.get("queryPlanning", 0))
        layers[f"stream.{q}.add_batch_ms_p50"] = p50(lambda x: x.get("addBatch", 0))
        layers[f"stream.{q}.offsets_ms_p50"] = p50(lambda x: x.get("latestOffset", 0) + x.get("getBatch", 0))
        layers[f"stream.{q}.commit_ms_p50"] = p50(lambda x: x.get("walCommit", 0) + x.get("commitOffsets", 0))
        for p in ps:
            ms = (p.get("durationMs") or {}).get("triggerExecution", 0)
            t = _iso_to_epoch(p["timestamp"])
            tracer.add({"id": p["id"][:8] + f"-{p['batchId']}", "parent": run_span["id"],
                        "name": f"stream.{q}.batch", "start": t, "end": t + ms / 1000.0,
                        "dur_s": ms / 1000.0, "rows": p.get("numInputRows", 0)})
    all_ps = [p for ps in by_q.values() for p in ps]
    layers["stream.batches"] = float(len(by_q["silver"]))
    layers["stream.rows_per_batch_p50"] = median([p["numInputRows"] for p in by_q["silver"]])
    reads = sum(len(file_batches(c)) for c in ckpts.values())
    layers["stream.source_reads_per_file"] = reads / len(landed)
    last = [ps[-1] for ps in by_q.values() if ps]
    ops = [op for p in last for op in p.get("stateOperators") or []]
    layers["stream.state_rows_end"] = float(sum(op.get("numRowsTotal", 0) for op in ops))
    layers["stream.state_mem_bytes_end"] = float(sum(op.get("memoryUsedBytes", 0) for op in ops))
    stats = spark_stats(spark.sparkContext)
    run_ids = [q.runId for q in queries.values()]
    tot = sum_stats(stats, run_ids)
    n_batches = max(1, len(all_ps))
    wall = run_span["dur_s"]
    cores = spark.sparkContext.defaultParallelism
    layers.update({
        "spark.jobs_per_op": tot["jobs"] / n_batches,
        "spark.tasks_per_op": tot["tasks"] / n_batches,
        "spark.busy_ratio": tot["run_ms"] / 1000.0 / (wall * cores),
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n_batches,
        "spark.spill_bytes": float(tot["spill_bytes"]),
        "spark.output_bytes_per_op": tot["output_bytes"] / n_batches,
    })
    return layers


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
