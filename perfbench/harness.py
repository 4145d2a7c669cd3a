"""Shared benchmark plumbing: session lifetime, spans, Spark counters.

Everything here observes the engine from outside. Spans wrap calls into
the engine's public functions; with tracing on, each span also becomes
the Spark job group of its thread, so Spark's status store charges every
job, stage, task-second, shuffle byte and spilled byte to the span that
caused it.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import time
import uuid
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


STAT_KEYS = ("tasks", "run_ms", "shuffle_write_bytes", "spill_bytes", "output_bytes")


class Tracer:
    """In-memory spans: name, start, end, parent span and run id.

    ``enabled=False`` still times each span (the workloads read their
    end-to-end numbers from span durations) but leaves Spark's job group
    alone and keeps nothing beyond what the caller asks for.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc = None  # set once a session exists

    @contextmanager
    def span(self, name: str, **attrs):
        sid = uuid.uuid4().hex[:16]
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": sid, "parent": parent, "name": name, **attrs}
        self._stack.append(sid)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.spans.append(rec)

    def add(self, rec: dict) -> None:
        """Record a span measured elsewhere (streaming progress events)."""
        if self.enabled:
            self.spans.append({"run": self.run_id, **rec})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def start_session(cores: int):
    from real_time_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release_engine_caches() -> None:
    """Drain the engine's tracked caches, blocking, outside any timed
    window, so every timed repetition recomputes from its inputs."""
    from real_time_data_pipeline_spark.operators.materialize import release_caches
    from real_time_data_pipeline_spark.operators.ranking import release_rank_caches

    release_rank_caches(blocking=True)
    release_caches(blocking=True)


def shutdown_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None and proc.poll() is None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts.

    A process whose parent dies is then re-parented here instead of to
    init: the shell that ``spark-submit`` leaves behind when it execs the
    JVM, or a Python worker that outlives its JVM. ``reap_children``
    can then wait for each of them.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _child_pids() -> list[int]:
    me = os.getpid()
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Fields after the command name, which may hold spaces or ")".
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def reap_children(grace_s: float = 10.0) -> None:
    """Return once every child process has ended and been reaped.

    Children still running after ``grace_s`` get SIGTERM, and SIGKILL
    every 5 s after that.
    """
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5.0
        time.sleep(0.02)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc.pid if gateway is not None and gateway.proc is not None else None


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given live processes."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def spark_stats(sc) -> dict[str, dict]:
    """Per job group: jobs, tasks, task time, shuffle, spill, output.

    Read from the driver's status store, which Spark keeps with the UI
    disabled. Skipped stages ran nothing and count for nothing.
    """
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList
    stages = {}
    st = store.stageList(empty(), False, False, gw.new_array(gw.jvm.double, 0), empty())
    for i in range(st.size()):
        s = st.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        stages[(s.stageId(), s.attemptId())] = {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_ms": s.executorRunTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
        }
    by_stage_id: dict[int, list[dict]] = {}
    for (sid, _), v in stages.items():
        by_stage_id.setdefault(sid, []).append(v)
    out: dict[str, dict] = {}
    jobs = store.jobsList(empty())
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
        agg = out.setdefault(group, dict.fromkeys(("jobs", *STAT_KEYS), 0))
        agg["jobs"] += 1
        ids = j.stageIds()
        for k in range(ids.size()):
            for v in by_stage_id.pop(ids.apply(k), []):  # a stage counts once
                for key in STAT_KEYS:
                    agg[key] += v[key]
    return out


def sum_stats(stats: dict[str, dict], groups) -> dict:
    total = dict.fromkeys(("jobs", *STAT_KEYS), 0)
    for g in groups:
        for k, v in stats.get(g, {}).items():
            total[k] += v
    return total


def count_files(root: str, suffix: str = ".parquet") -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(suffix))
    return n


def dir_bytes(root: str) -> int:
    n = 0
    for d, _, files in os.walk(root):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n
