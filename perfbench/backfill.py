"""``backfill_day``: the hourly date backfill over one day of bronze.

Closed loop, one client. Each repetition runs ``jobs.backfill.run`` on
the same generated day into fresh silver and gold directories and is
timed from call to return (input to complete result). The same
``station_status`` stages as ``feed_stream`` run here in batch mode:
the deterministic-dedup shuffle, the window aggregate and the
date-partitioned writes. At this size the fixed cost per Spark job still
takes most of the wall time; one core is only about 1.4x slower than
four.

Every repetition's gold is compared with a DuckDB reference computed
from the generated bronze: keys exactly, averages to 1e-9 relative like
``tests/oracle.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb

import gen
from harness import count_files, dir_bytes, median, release_engine_caches, spark_stats, sum_stats

N_STATIONS = 1000
N_POLLS = 480  # one poll every 3 minutes
DATE = "2024-05-07"
MIN_REPS = 4

GOLD_SQL = f"""
WITH raw AS (SELECT * FROM read_parquet('{{bronze}}/*.parquet')),
norm AS (
  SELECT CAST(station_id AS VARCHAR) AS station_id,
         COALESCE(TRY_CAST(num_bikes_available AS INTEGER), 0) AS bikes,
         COALESCE(TRY_CAST(num_docks_available AS INTEGER), 0) AS docks,
         COALESCE(TRY_CAST(last_reported AS BIGINT), 0) AS last_reported
  FROM raw),
silver AS (
  SELECT DISTINCT station_id, bikes, docks, last_reported,
         to_timestamp(last_reported) AS event_ts
  FROM norm),
day AS (SELECT * FROM silver WHERE CAST(event_ts AS DATE) = DATE '{DATE}')
SELECT station_id,
       epoch(time_bucket(INTERVAL 15 MINUTE, event_ts))::BIGINT AS w,
       AVG(CASE WHEN bikes + docks > 0 THEN bikes::DOUBLE / (bikes + docks) END) AS p,
       AVG(bikes::DOUBLE) AS b,
       AVG(docks::DOUBLE) AS d
FROM day GROUP BY ALL
"""

GOT_SQL = f"""
SELECT station_id, epoch(window_start)::BIGINT AS w, avg_pct_bikes_available AS p,
       avg_bikes AS b, avg_docks AS d
FROM read_parquet('{{gold}}/*/*.parquet', hive_partitioning = true)
WHERE date = DATE '{DATE}'
"""


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=lambda r: (r[0], r[1]))


def same_gold(got: list[tuple], want: list[tuple]) -> bool:
    """Keys equal, averages equal to 1e-9 relative (the registry
    oracles' float tolerance: summation order differs between engines)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:2] != w[:2]:
            return False
        for a, b in zip(g[2:], w[2:]):
            if (a is None) != (b is None) or (a is not None and not math.isclose(a, b, rel_tol=1e-9)):
                return False
    return True


def setup_once(ctx, warm_bronze: str, k: int):
    """Session start plus one backfill over a small warm-up day."""
    from real_time_data_pipeline_spark.jobs import backfill

    with ctx.tracer.span("setup", rep=k) as rec:
        spark = ctx.start_session()
        out = os.path.join(ctx.work, f"warm{k}")
        backfill.run(spark, DATE, warm_bronze, f"{out}/silver", f"{out}/gold")
    shutil.rmtree(out, ignore_errors=True)
    return spark, rec["dur_s"]


def run(ctx) -> dict:
    from real_time_data_pipeline_spark.jobs import backfill
    from real_time_data_pipeline_spark.pipelines.station_status import normalize_raw, to_gold, to_silver

    tracer, work = ctx.tracer, ctx.work
    bronze = os.path.join(work, "bronze")
    warm = os.path.join(work, "warm_bronze")
    bronze_rows = gen.write_bronze_day(bronze, ctx.seed, N_STATIONS, N_POLLS)
    gen.write_bronze_day(warm, ctx.seed + 1_000_003, 50, 96, n_files=2)

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    want = _rows(con, GOLD_SQL.format(bronze=bronze))

    setup_times = []
    for k in range(ctx.setups):
        spark, dt = setup_once(ctx, warm, k)
        setup_times.append(dt)

    def rep(k: int) -> dict:
        out = os.path.join(work, f"rep{k}")
        release_engine_caches()
        with tracer.span("backfill.run", rep=k) as rec:
            backfill.run(spark, DATE, bronze, f"{out}/silver", f"{out}/gold")
        rec["ok"] = same_gold(_rows(con, GOT_SQL.format(gold=f"{out}/gold")), want)
        if k == 0:
            rec["silver_rows"] = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/silver/*/*.parquet')").fetchone()[0]
            rec["files"] = count_files(out)
            rec["bytes"] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    # The first full-size run still pays compilation for the larger
    # input (about 2x a warm run), so it is checked but not timed.
    warm_rec = rep(-1)
    timed = []
    deadline = time.perf_counter() + ctx.seconds
    while len(timed) < MIN_REPS or time.perf_counter() < deadline:
        timed.append(rep(len(timed)))
    walls = [r["dur_s"] for r in timed]
    reps = len(timed) + 1
    failed = sum(not r["ok"] for r in [warm_rec, *timed])

    raw = spark.read.parquet(bronze)
    with tracer.span("pipelines.plan") as plan:
        to_gold(to_silver(normalize_raw(raw)))
    wall = median(walls)
    res = {
        "attempted": reps,
        "failed": failed,
        "setup_times": setup_times,
        "metrics": {"rows_per_s": bronze_rows / wall, "latency_p50_s": wall},
        "detail": {
            "backfill.wall_p50_s": wall,
            "backfill.walls_s": walls,
            "backfill.reps": reps,
            "backfill.warm_run_s": warm_rec["dur_s"],
            "backfill.bronze_rows": bronze_rows,
            "backfill.gold_rows": len(want),
        },
        "layers": {
            "pipelines.plan_ms": plan["dur_s"] * 1000.0,
            "backfill.silver_keep_ratio": timed[0]["silver_rows"] / bronze_rows,
            "backfill.files_written": float(timed[0]["files"]),
            "backfill.output_bytes": float(timed[0]["bytes"]),
        },
    }
    if tracer.enabled:
        stats = spark_stats(spark.sparkContext)
        tot = sum_stats(stats, [r["id"] for r in timed])
        n = len(timed)
        cores = spark.sparkContext.defaultParallelism
        res["layers"].update({
            "spark.jobs_per_op": tot["jobs"] / n,
            "spark.tasks_per_op": tot["tasks"] / n,
            "spark.busy_ratio": tot["run_ms"] / 1000.0 / (sum(walls) * cores),
            "spark.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n,
            "spark.spill_bytes": float(tot["spill_bytes"]),
            "spark.output_bytes_per_op": tot["output_bytes"] / n,
        })
    return res
