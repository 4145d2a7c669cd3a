"""Seeded input generators for the benchmark.

The engine only ever sees the files written here. The same seed gives
byte-identical parquet files (pyarrow writes no timestamps into them).

Station feed model (GBFS ``station_status`` polls, every value a string
as in ``STATION_STATUS_RAW_SCHEMA``):

- each poll is a snapshot of every station;
- a station files a new report with its own probability per poll,
  drawn from Beta(1.5, 3.5) (mean 0.3, mild key skew: a few busy
  stations report far more often than most), so about 70 % of the rows
  repeat the station's previous report unchanged (exact duplicates);
- about 2 % extra rows re-deliver one of the station's last eight
  reports, verbatim and out of order, at most 90 min old, so inside the
  pipeline's 2 h watermark.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RAW_COLUMNS = (
    "station_id",
    "num_bikes_available",
    "num_ebikes_available",
    "num_docks_available",
    "is_installed",
    "is_renting",
    "is_returning",
    "last_reported",
)
RAW_SCHEMA = pa.schema([(c, pa.string()) for c in RAW_COLUMNS])

DAY0 = 1_715_040_000  # 2024-05-07T00:00:00Z
REDELIVERY_SHARE = 0.02
HISTORY = 8  # reports kept per station for re-delivery
MAX_REDELIVERY_AGE_S = 5400  # 90 min, inside the pipeline's 2 h watermark


class StationFeed:
    """Deterministic poll-by-poll station_status snapshots."""

    def __init__(self, seed: int, n_stations: int, t0: int = DAY0, interval_s: int = 30):
        self.rng = np.random.default_rng(seed)
        self.n = n_stations
        self.t0 = t0
        self.interval_s = interval_s
        self.k = 0
        rng = self.rng
        self.ids = np.array([f"st-{i:05d}" for i in range(n_stations)], dtype=object)
        self.p_change = rng.beta(1.5, 3.5, n_stations)
        self.cap = rng.integers(10, 41, n_stations)
        self.bikes = (self.cap * rng.random(n_stations)).astype(np.int64)
        self.has_ebikes = rng.random(n_stations) < 0.8
        self.ebikes = np.minimum(self.bikes, rng.integers(0, 6, n_stations))
        self.broken = (rng.random(n_stations) < 0.1).astype(np.int64)
        # Flag spellings vary by station like real feeds ("1" / "true").
        self.flag_style = rng.integers(0, 2, n_stations)
        self.renting = rng.random(n_stations) < 0.97
        self.last = t0 - rng.integers(1, interval_s, n_stations)
        # Ring of past reports per station: [bikes, ebikes, docks, renting, last].
        self.hist = np.zeros((n_stations, HISTORY, 5), dtype=np.int64)
        self.hist_len = np.zeros(n_stations, dtype=np.int64)
        self._push(np.ones(n_stations, dtype=bool))

    def _push(self, changed: np.ndarray) -> None:
        idx = np.flatnonzero(changed)
        slot = self.hist_len[idx] % HISTORY
        self.hist[idx, slot] = np.stack(
            [
                self.bikes[idx],
                self.ebikes[idx],
                self.cap[idx] - self.bikes[idx] - self.broken[idx],
                self.renting[idx].astype(np.int64),
                self.last[idx],
            ],
            axis=1,
        )
        self.hist_len[idx] += 1

    def poll_time(self, k: int) -> int:
        return self.t0 + k * self.interval_s

    def next_poll(self) -> pa.Table:
        """Advance one poll and return its rows (stations + re-deliveries)."""
        rng, n = self.rng, self.n
        self.k += 1
        t = self.poll_time(self.k)
        changed = rng.random(n) < self.p_change
        step = rng.integers(-3, 4, n)
        self.bikes = np.where(changed, np.clip(self.bikes + step, 0, self.cap - self.broken), self.bikes)
        self.ebikes = np.minimum(self.ebikes, self.bikes)
        flip = changed & (rng.random(n) < 0.002)
        self.renting = np.where(flip, ~self.renting, self.renting)
        self.last = np.where(changed, t - rng.integers(0, self.interval_s, n), self.last)
        self._push(changed)

        cur = np.stack(
            [self.bikes, self.ebikes, self.cap - self.bikes - self.broken,
             self.renting.astype(np.int64), self.last],
            axis=1,
        )
        station = np.arange(n)
        # Re-deliveries: an older report of a station, copied verbatim.
        n_re = rng.binomial(n, REDELIVERY_SHARE)
        re_st = rng.choice(n, n_re, replace=False)
        depth = np.minimum(self.hist_len[re_st], HISTORY)  # >= 1
        back = np.minimum(1 + (rng.random(n_re) * (depth - 1)).astype(np.int64), depth - 1)
        slot = (self.hist_len[re_st] - 1 - back) % HISTORY
        old = self.hist[re_st, slot]
        recent = old[:, 4] >= t - MAX_REDELIVERY_AGE_S
        old, re_st = old[recent], re_st[recent]
        rows = np.concatenate([cur, old])
        st = np.concatenate([station, re_st])
        return self._table(st, rows)

    def _table(self, st: np.ndarray, rows: np.ndarray) -> pa.Table:
        style = self.flag_style[st]
        renting = rows[:, 3].astype(bool)
        ebikes = rows[:, 1].astype(str).astype(object)
        ebikes[~self.has_ebikes[st]] = None
        true_s = np.where(style == 0, "1", "true")
        false_s = np.where(style == 0, "0", "false")
        return pa.table(
            [
                pa.array(self.ids[st], pa.string()),
                pa.array(rows[:, 0].astype(str), pa.string()),
                pa.array(ebikes, pa.string()),
                pa.array(rows[:, 2].astype(str), pa.string()),
                pa.array(true_s, pa.string()),
                pa.array(np.where(renting, true_s, false_s), pa.string()),
                pa.array(true_s, pa.string()),
                pa.array(rows[:, 4].astype(str), pa.string()),
            ],
            schema=RAW_SCHEMA,
        )


def write_bronze_day(out_dir: str, seed: int, n_stations: int, n_polls: int, n_files: int = 8) -> int:
    """One day of bronze: ``n_polls`` snapshots of ``n_stations``, as
    ``n_files`` parquet files. Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    feed = StationFeed(seed, n_stations, interval_s=86_400 // n_polls)
    per_file = -(-(n_polls - 1) // n_files)
    rows = 0
    for f in range(n_files):
        polls = [feed.next_poll() for _ in range(min(per_file, n_polls - 1 - f * per_file))]
        if not polls:
            break
        t = pa.concat_tables(polls)
        rows += t.num_rows
        pq.write_table(t, os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return rows


def land_feed(
    landing: str,
    staging: str,
    log_path: str,
    seed: int,
    n_stations: int,
    backlog_files: int,
    scheduled_files: int,
    rate_per_s: float,
    backlog_landed,
) -> None:
    """Feed generator (runs in its own process, see ``main``).

    Writes ``backlog_files`` polls straight into ``landing`` (the
    outage backlog), then calls ``backlog_landed()``, which returns a
    wall-clock start time (``time.time``). It then lands
    ``scheduled_files`` more on a fixed schedule: file i is due at
    ``start + i / rate_per_s`` whatever the engine is doing. Every file is
    written to ``staging`` first and renamed into ``landing``, so the
    engine never lists a half-written file. One JSON line per file goes
    to ``log_path``: name, rows, due and landed times.
    """
    feed = StationFeed(seed, n_stations)
    start_at = None
    with open(log_path, "w") as log:
        for i in range(backlog_files + scheduled_files):
            if i == backlog_files:
                start_at = backlog_landed()
            table = feed.next_poll()
            name = f"poll-{i:06d}.parquet"
            due = None
            if i >= backlog_files:
                due = start_at + (i - backlog_files) / rate_per_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
            tmp = os.path.join(staging, name)
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(landing, name))
            log.write(json.dumps({"file": name, "rows": table.num_rows, "due": due,
                                  "landed": time.time()}) + "\n")
            log.flush()


def main(argv) -> int:
    """``python3 gen.py LANDING STAGING LOG SEED STATIONS BACKLOG SCHEDULED RATE``

    Runs ``land_feed``. Prints ``ready`` once the backlog is landed and
    reads the start time of the schedule as one line from standard input.
    """
    landing, staging, log_path, seed, n_stations, backlog, scheduled, rate = argv

    def backlog_landed() -> float:
        print("ready", flush=True)
        return float(sys.stdin.readline())

    land_feed(landing, staging, log_path, int(seed), int(n_stations), int(backlog),
              int(scheduled), float(rate), backlog_landed)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
