#!/usr/bin/env python
"""Per-batch cost measurement for the partitioned-index streaming
twins: the repo's standing claim is that a twin's merge cost scales
with the BATCH, not the accumulated TABLE (structural idempotency via
dynamic partition overwrite of only the batch's own partitions; the
reset guard reads a driver-side partition-dir listing, never state
data). The r13 scaling harness (`scaling_curve.py`) converted the
batch queries' complexity claims into measurements; this does the
same for the streaming side.

Method: feed N equal-sized micro-batches through the twin's public
merge function against a growing on-disk state and time every commit.
One UNTIMED warm-up merge into a throwaway state dir runs first —
JIT/first-job cost must not inflate the early batches (an inflated
mean(first 5) deflates the growth ratio and could hide a real
state-dependent regression under the gate; scaling_curve.py warms the
same way). If the claim holds, the per-batch series is FLAT (up to
noise and the slow growth of the partition-dir listing the reset
guard performs) — gated as mean(last 5) / mean(first 5) <= the stated
bound. A read-modify-write design would instead grow linearly with
state and blow the gate within the run.

Twins measured (the two with the strongest per-batch claims, one per
state shape):

* IVF ingest (`streaming/ivf_ingest.merge_ivf_batch`) — row-grain
  inverted lists, (cent_id, src_batch) dynamic-overwrite partitions.
  Claimed: per-batch cost ~ batch size (+ O(partition dirs) listing).
* Corpus-stats ingest (`streaming/corpusstats_ingest.
  merge_corpus_stats_batch`) — additive term-grain deltas,
  (bkt, src_batch) partitions. Same claim, additive algebra.

Each twin is also probed mid-run: state-serving reads
(`ivf_probe_state`, `bm25_probe_state`) are timed at 1/4, 1/2 and
full state so the read path's growth is REPORTED alongside the write
path's flatness (probes partition-prune but their probed lists grow
with the corpus — linear-in-probed-lists is the documented read
bound, not flatness; no gate, numbers only).

A final compaction is timed and the FIRST post-compaction merge is
re-measured: compaction must not make the next commit more expensive
(the sentinel preserves the reset guard without a data scan).

Usage:
  python scripts/twin_batch_cost.py [--batches 40] \
      [--out docs/bench/twin_batch_cost_r13.json]

Gate bound: 2.0. The truly-flat ideal is ~1.0; small-second cells on
a shared box swing +-30% (see the canary README section), and the
listing grows by one dir per batch, so the gate is set where a
state-sized read-modify-write (which would read >5x within 40
batches) cannot pass but box noise cannot fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALING_DIR = os.environ.get("RTDP_SCALING_DIR", "/tmp/rtdp_scaling")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GATE_RATIO = 2.0
ID_SHIFT = 500_000_000  # clear of every scaling-shard id range (k*1e7)


def _series_stats(times: list[float]) -> dict:
    first = times[:5]
    last = times[-5:]
    ratio = (sum(last) / len(last)) / (sum(first) / len(first))
    return {
        "per_batch_s": [round(t, 3) for t in times],
        "mean_first5_s": round(sum(first) / len(first), 3),
        "mean_last5_s": round(sum(last) / len(last), 3),
        "last5_over_first5": round(ratio, 3),
        "flat_within_gate": ratio <= GATE_RATIO,
    }


def measure_twin(
    twin: str,
    frame,
    id_col: str,
    n_batches: int,
    merge_fn,
    probe_fn,
    compact_fn,
) -> dict:
    """One twin's measurement: warm-up merge (untimed, throwaway
    state), n_batches timed merges into a growing state with probes
    at 1/4, 1/2 and full, then timed compaction + one post-compaction
    merge. ``merge_fn(batch_df, state_path, batch_id)``,
    ``probe_fn(state_path)``, ``compact_fn(state_path)`` close over
    everything twin-specific (centroids, query terms, corpus)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    total = frame.count()
    per = total // n_batches
    # Guard the flatness gate against vacuous passes (ADVICE r13 #1):
    # total < n_batches would make per == 0 and every batch empty, so
    # near-zero merge times would sail through the gate while
    # measuring nothing. The floor-division remainder (< n_batches
    # rows) is deliberately dropped for equal-sized batches; its size
    # is surfaced in the output JSON rather than silently eaten.
    if per < 1:
        raise SystemExit(
            f"{twin}: corpus has {total} rows < {n_batches} batches — "
            "every batch would be empty and the flatness gate vacuous"
        )
    dropped_remainder_rows = total % n_batches
    # Deterministic equal slices by id rank: batch k gets rows
    # [k*per, (k+1)*per). localCheckpoint each slice so slicing cost
    # (a window over the corpus) never pollutes the timed merge.
    ranked = frame.withColumn(
        "_rk", F.row_number().over(Window.orderBy(id_col)) - 1
    ).localCheckpoint()

    def slice_of(k: int):
        return (
            ranked.where(
                (F.col("_rk") >= k * per) & (F.col("_rk") < (k + 1) * per)
            )
            .drop("_rk")
            .localCheckpoint()
        )

    state = tempfile.mkdtemp(prefix=f"twin_{twin}_")
    warm = tempfile.mkdtemp(prefix=f"twin_{twin}_warm_")
    shutil.rmtree(state)  # merge creates them
    shutil.rmtree(warm)
    try:
        # Warm-up: same merge shape, throwaway state, untimed.
        merge_fn(slice_of(0), warm, 0)

        times: list[float] = []
        probe_reads: dict[str, float] = {}
        for k in range(n_batches):
            batch = slice_of(k)
            t0 = time.perf_counter()
            merge_fn(batch, state, k)
            times.append(time.perf_counter() - t0)
            if k + 1 in (n_batches // 4, n_batches // 2, n_batches):
                t0 = time.perf_counter()
                probe_fn(state)
                probe_reads[f"after_batch_{k + 1}"] = round(
                    time.perf_counter() - t0, 3
                )
            print(f"{twin} batch {k}: {times[-1]:.3f}s", file=sys.stderr)

        t0 = time.perf_counter()
        compact_fn(state)
        compact_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_fn(
            slice_of(0).withColumn(id_col, F.col(id_col) + ID_SHIFT),
            state,
            n_batches,
        )
        post_compact_merge_s = time.perf_counter() - t0
        return {
            "twin": twin,
            "batch_rows": per,
            "n_batches": n_batches,
            "dropped_remainder_rows": dropped_remainder_rows,
            **_series_stats(times),
            "probe_reads_s": probe_reads,
            "compaction_s": round(compact_s, 3),
            "first_merge_after_compaction_s": round(post_compact_merge_s, 3),
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(warm, ignore_errors=True)


def measure_ivf(spark, emb, n_batches: int) -> dict:
    from real_time_data_pipeline_spark.operators.similarity import (
        stride_centroids,
    )
    from real_time_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_probe_state,
        merge_ivf_batch,
    )
    from real_time_data_pipeline_spark.streaming.sinks import (
        compact_partitioned_state,
    )

    cents = stride_centroids(emb, "vec_id", "embedding").localCheckpoint()
    probes = emb.orderBy("vec_id").limit(5).localCheckpoint()
    return measure_twin(
        "ivf_ingest",
        emb,
        "vec_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_ivf_batch(b, s, i, cents),
        probe_fn=lambda s: ivf_probe_state(
            spark, s, probes, cents, k=10, nprobe=4
        ).collect(),
        compact_fn=lambda s: compact_partitioned_state(spark, s),
    )


def measure_corpus_stats(spark, docs, n_batches: int) -> dict:
    from real_time_data_pipeline_spark.queries.text import BM25_QUERY_TERMS
    from real_time_data_pipeline_spark.streaming.corpusstats_ingest import (
        bm25_probe_state,
        compact_corpus_stats,
        merge_corpus_stats_batch,
    )

    return measure_twin(
        "corpusstats_ingest",
        docs,
        "doc_id",
        n_batches,
        merge_fn=merge_corpus_stats_batch,
        probe_fn=lambda s: bm25_probe_state(
            spark, s, docs, BM25_QUERY_TERMS
        ).collect(),
        compact_fn=lambda s: compact_corpus_stats(spark, s),
    )


def measure_countmin(spark, docs, n_batches: int) -> dict:
    """Marker-family representative (VERDICT r13 #5): the Count-Min
    twin's state is FIXED-SIZE (depth x width cells, whole-frame
    swap per merge), so per-batch cost should be the flattest of all
    twins — the merge reads a constant-size cell table plus the
    batch. Compaction is structurally a no-op (every merge already
    rewrites the state as one compact frame); the timed compact_fn
    is an identity to keep the post-compaction-merge point
    comparable across twins."""
    from real_time_data_pipeline_spark.streaming.countmin_ingest import (
        heavy_hitters_estimate,
        merge_countmin_batch,
    )

    probe_words = spark.createDataFrame(
        [("the",), ("and",), ("data",), ("of",), ("to",)], "word string"
    ).localCheckpoint()
    return measure_twin(
        "countmin_ingest",
        docs,
        "doc_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_countmin_batch(b, s, i),
        probe_fn=lambda s: heavy_hitters_estimate(
            spark, s, probe_words
        ).collect(),
        compact_fn=lambda s: None,
    )


def measure_zonemap(spark, events, n_batches: int) -> dict:
    """The composite zone-map twin (VERDICT r13 #5): TWO state
    tables with different merge algebras committed per batch — the
    marker-protected partition-stats swap (fixed partition grain)
    plus the keyed (part_date, user_id) support upsert whose state
    grows with distinct users. The upsert is the interesting arm:
    last-writer-wins re-reads the stored key table each merge, so
    this measurement bounds how that read grows over 40 batches.
    Both state tables are whole-frame swaps — no fragment
    accumulation, compaction is an identity."""
    from real_time_data_pipeline_spark.streaming.zonemap_ingest import (
        merge_zonemap_batch,
        read_zonemap,
    )

    return measure_twin(
        "zonemap_ingest",
        events,
        "event_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_zonemap_batch(
            b, os.path.join(s, "stats"), os.path.join(s, "users"), i
        ),
        probe_fn=lambda s: read_zonemap(
            spark, os.path.join(s, "stats"), os.path.join(s, "users")
        ).collect(),
        compact_fn=lambda s: None,
    )


def measure_hll(spark, docs, n_batches: int) -> dict:
    """Marker-family sketch twin (VERDICT r14 #3): FIXED-size state
    (2^p register maxima + marker row), whole-frame swap per merge —
    per-batch cost must be flat because the stored side of the
    max-merge is bounded by the register count, never the corpus."""
    from real_time_data_pipeline_spark.streaming.hll_ingest import (
        hll_estimate,
        merge_hll_batch,
    )

    return measure_twin(
        "hll_ingest",
        docs,
        "doc_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_hll_batch(b, s, i),
        probe_fn=lambda s: hll_estimate(spark, s),
        compact_fn=lambda s: None,
    )


def measure_histogram(spark, events, n_batches: int) -> dict:
    """Marker-family sketch twin: state bounded by the bucket
    function's range (≤ ~17k cells for all positive doubles), additive
    sum-merge, whole-frame swap. Probe = the quantile serve path."""
    from real_time_data_pipeline_spark.streaming.histogram_ingest import (
        merge_histogram_batch,
        quantile_estimates_of,
        read_histogram,
    )

    return measure_twin(
        "histogram_ingest",
        events,
        "event_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_histogram_batch(b, s, i),
        probe_fn=lambda s: quantile_estimates_of(
            read_histogram(spark, s), [0.5, 0.95, 0.99]
        ).collect(),
        compact_fn=lambda s: None,
    )


def measure_bloom(spark, docs, n_batches: int) -> dict:
    """Marker-family sketch twin: the lit-position set union. State is
    bounded by the filter's bit count (positions saturate, never
    corpus-grain), so the stored side of the distinct-union stays
    bounded; the per-batch cost is dominated by the batch's own
    shingling. Probe = a state read of the committed positions."""
    from real_time_data_pipeline_spark.streaming.bloom_ingest import (
        merge_bloom_batch,
        read_bloom,
    )

    return measure_twin(
        "bloom_ingest",
        docs,
        "doc_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_bloom_batch(b, s, i),
        probe_fn=lambda s: read_bloom(spark, s).count(),
        compact_fn=lambda s: None,
    )


def measure_retention(spark, events, n_batches: int) -> dict:
    """Keyed-upsert twin, the zonemap users arm's algebra on TWO
    tables: first_seen min-merge pulls only the batch's own users
    (left_semi — merge frame stays batch-sized) and activity is a
    keyed idempotent upsert. Both state tables are DIMENSION-grain
    (users; user×week), so the whole-table swap the unpartitioned
    upsert performs is bounded by the user population, not the event
    volume — the claim this measurement prices. Probe = the cohort
    retention-matrix serve path."""
    from real_time_data_pipeline_spark.streaming.retention_ingest import (
        merge_retention_batch,
        retention_matrix,
    )

    return measure_twin(
        "retention_ingest",
        events.select("event_id", "user_id", "ts"),
        "event_id",
        n_batches,
        merge_fn=lambda b, s, i: merge_retention_batch(
            b.select("user_id", "ts"), s
        ),
        probe_fn=lambda s: retention_matrix(spark, s).collect(),
        compact_fn=lambda s: None,
    )


def measure_dedup(spark, docs, n_batches: int) -> dict:
    """The incremental-dedup ingest twin. Its documented claim is
    DIFFERENT from the sketch/index twins' flatness: per-batch cost is
    O(touched-bucket STATE), never O(corpus-independent) — probes and
    keyed upserts read/rewrite the bucket partitions the batch's keys
    map to, and each bucket grows with the accepted corpus. At this
    measurement's batch:bucket ratio (corpus/n_batches docs × ~9 band
    keys over DEFAULT_BUCKETS=64) every batch touches ALL buckets
    (expected touched = B·(1−e^(−keys/B)) ≈ B), so the honest
    expectation is a LINEAR series, cost_k ≈ fixed + slope·k — the
    2.0 flatness gate is the wrong gate and is replaced by the linear
    annotation below. The production levers the module doc names:
    n_buckets in the thousands (a real micro-batch touches a small
    fraction) and micro-batches that are seconds of data, not
    corpus/40. The row reports the measured series plus a
    least-squares slope so a super-linear regression (quadratic
    probe, full-corpus re-read per batch) still has a number to show
    against."""
    from real_time_data_pipeline_spark.streaming.dedup_ingest import (
        ingest_batch,
    )

    # Validate BEFORE the expensive measurement: the first-half fit
    # needs a fit window disjoint from the gated last-5 tail (and
    # n == 1 would divide by zero in sxx).
    if n_batches < 10:
        raise SystemExit(
            f"dedup twin: {n_batches} batches < 10 — the super-linearity "
            "gate fits on the first half and judges the last 5, which "
            "needs at least 10 points"
        )

    out = measure_twin(
        "dedup_ingest",
        docs.select("doc_id", "text"),
        "doc_id",
        n_batches,
        merge_fn=lambda b, s, i: ingest_batch(
            b, "doc_id", "text", os.path.join(s, "corpus"), os.path.join(s, "store")
        ),
        probe_fn=lambda s: spark.read.parquet(os.path.join(s, "corpus")).count(),
        compact_fn=lambda s: None,
    )
    ts = out["per_batch_s"]
    n = len(ts)
    # Fit the line on the FIRST HALF ONLY and extrapolate to the
    # last-5 window. Fitting on the full series (the r15 original)
    # was CIRCULAR: the gated tail inflated its own fit, so any
    # polynomial super-linear regression passed — a quadratic
    # full-corpus re-read read mean(last5) ~ 1.15x its own fit's
    # prediction, far inside the 2x allowance (r15 review). With the
    # fit blind to the tail, t_k = c*k^2 over 40 batches predicts
    # ~646c at the tail midpoint vs an actual ~1369c mean — over the
    # 2x allowance, gate fails, which is the point.
    half = ts[: n // 2]
    m = len(half)
    xm, ym = (m - 1) / 2.0, sum(half) / m
    sxx = sum((i - xm) ** 2 for i in range(m))
    slope = sum((i - xm) * (t - ym) for i, t in enumerate(half)) / sxx
    out["claim"] = (
        "state-linear by design at this batch:bucket ratio (every batch "
        "touches all 64 buckets; each bucket grows with the corpus) — "
        "lever is n_buckets, not flatness; flat gate not applicable"
    )
    out["linear_fit_slope_s_per_batch"] = round(slope, 3)
    out["linear_fit_window"] = f"first {m} of {n} batches"
    # Floor the prediction at the first-half mean so a noisy negative
    # slope cannot make the gate unpassable for a genuinely flat run.
    predicted_last5 = max(ym + slope * ((n - 3) - xm), ym)
    out["flat_within_gate"] = out["mean_last5_s"] <= 2.0 * predicted_last5
    out["gate"] = (
        "mean(last5) <= 2x first-half-linear-fit extrapolation "
        "(state-linear twin; fit blind to the gated tail)"
    )
    return out


def measure_graph_flows(spark, src: str, n_batches: int) -> dict:
    """Graph-family edge-list twin (r15): additive exact-cents merge
    into (bkt, src_batch) partitions at EDGE grain — per-batch cost
    is the batch-sized star join collapsing to ≤|V|² delta rows
    before the write, so the series must be flat like the other
    additive twins (the state side of the merge is never read).
    Probe = the maintained edge-list read the PageRank serve path
    starts from. The post-compaction merge's id-shifted batch
    join-misses the dimension tables by construction (orphan order
    keys) — the timed work is the same batch-sized star join, with an
    empty delta landing."""
    from real_time_data_pipeline_spark.sources.tables import load_table
    from real_time_data_pipeline_spark.streaming.graph_ingest import (
        compact_trade_flows,
        merge_trade_flows_batch,
        read_trade_flows,
    )

    li = load_table(spark, src, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, src, "orders")
    cust = load_table(spark, src, "customer")
    supp = load_table(spark, src, "supplier")
    nation = load_table(spark, src, "nation")
    return measure_twin(
        "graph_ingest",
        li,
        "l_orderkey",
        n_batches,
        merge_fn=lambda b, s, i: merge_trade_flows_batch(
            b, orders, cust, supp, nation, s, i
        ),
        probe_fn=lambda s: read_trade_flows(spark, s).collect(),
        compact_fn=lambda s: compact_trade_flows(spark, s),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=40)
    ap.add_argument("--out", default="docs/bench/twin_batch_cost_r13.json")
    ap.add_argument(
        "--twins",
        default="ivf,corpus_stats,countmin,zonemap",
        help="comma-separated subset of the measured twins",
    )
    args = ap.parse_args()
    if args.batches < 10:
        # first5/last5 must not overlap or the gate is vacuously 1.0,
        # and the quarter-state probe needs n//4 >= 1
        ap.error("--batches must be >= 10")

    from real_time_data_pipeline_spark.session import get_spark
    from real_time_data_pipeline_spark.sources.tables import load_table

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Same driver-heap posture as scaling_curve.py: the 1g local-mode
    # default OOM'd the r15 dedup-twin run at batch 37 of 40 (the
    # ingest body localCheckpoints per batch; in a session with no
    # checkpoint dir those blocks pin the driver-side block manager).
    spark = get_spark(
        app_name="rtdp-twin-cost",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": os.environ.get("RTDP_SCALING_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # A reliable checkpoint dir so reliable_materialize inside twin
    # bodies (dedup ingest) writes cleanable checkpoint files instead
    # of pinning executor blocks for the session lifetime — the
    # production posture every cluster entry point sets anyway.
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="twin_cost_ckpt_")
        )

    # The 10x scaling corpus when fully present (20k vectors / 50k
    # docs -> 40 batches of 500 / 1250), else the sf0.1 tables. Both
    # tables' _SUCCESS markers are required — documents.parquet lands
    # before embeddings.parquet in build_corpus, so an interrupted
    # build leaves a dir that must not be trusted.
    x10 = os.path.join(SCALING_DIR, "x10")
    src = (
        x10
        if all(
            os.path.exists(os.path.join(x10, t, "_SUCCESS"))
            for t in ("documents.parquet", "embeddings.parquet")
        )
        else SF_DIR
    )
    emb = load_table(spark, src, "embeddings")
    docs = load_table(spark, src, "documents")

    chosen = [t.strip() for t in args.twins.split(",") if t.strip()]
    measurers = {
        "ivf": lambda: measure_ivf(spark, emb, args.batches),
        "corpus_stats": lambda: measure_corpus_stats(spark, docs, args.batches),
        "countmin": lambda: measure_countmin(spark, docs, args.batches),
        "zonemap": lambda: measure_zonemap(
            spark, load_table(spark, src, "events"), args.batches
        ),
        "hll": lambda: measure_hll(spark, docs, args.batches),
        "histogram": lambda: measure_histogram(
            spark, load_table(spark, src, "events"), args.batches
        ),
        "bloom": lambda: measure_bloom(spark, docs, args.batches),
        "retention": lambda: measure_retention(
            spark, load_table(spark, src, "events"), args.batches
        ),
        "dedup": lambda: measure_dedup(spark, docs, args.batches),
        "graph": lambda: measure_graph_flows(spark, src, args.batches),
    }
    unknown = [t for t in chosen if t not in measurers]
    if unknown:
        ap.error(f"unknown twins: {unknown}")
    # Write INCREMENTALLY after each twin: the r15 crash at the last
    # twin's batch 37 threw away four completed twins' series because
    # nothing was persisted until the very end.
    out = {
        "metric": "twin_per_batch_cost",
        "source_dir": src,
        "gate": f"mean(last5)/mean(first5) <= {GATE_RATIO}",
        "twins": {},
    }
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
    results = []
    for t in chosen:
        r = measurers[t]()
        results.append(r)
        out["twins"][r["twin"]] = r
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {args.out} ({len(results)}/{len(chosen)} twins)", file=sys.stderr)
    print(json.dumps(out))
    ok = all(r["flat_within_gate"] for r in results)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
