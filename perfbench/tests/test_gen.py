"""The generators are pure functions of their seed."""

import hashlib
import os

import pyarrow.parquet as pq

import gen


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_bronze_day_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows_a = gen.write_bronze_day(a, 5, 200, 96, n_files=3)
    rows_b = gen.write_bronze_day(b, 5, 200, 96, n_files=3)
    gen.write_bronze_day(c, 6, 200, 96, n_files=3)
    assert rows_a == rows_b
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_feed_polls_are_deterministic():
    f1, f2 = gen.StationFeed(9, 300), gen.StationFeed(9, 300)
    for _ in range(20):
        assert f1.next_poll().equals(f2.next_poll())


def test_feed_shape(tmp_path):
    """About 70 % exact duplicates, about 2 % re-deliveries, and one
    report per (station, last_reported) key."""
    feed = gen.StationFeed(3, 2000)
    polls = [feed.next_poll() for _ in range(60)]
    df = pq.read_table(_write(tmp_path, polls)).to_pandas()
    dup_share = 1 - len(df.drop_duplicates()) / len(df)
    assert 0.65 < dup_share < 0.75
    redelivered = len(df) / (2000 * 60) - 1
    assert 0.015 < redelivered < 0.025
    assert len(df.drop_duplicates()) == len(df.drop_duplicates(["station_id", "last_reported"]))
    assert list(df.columns) == list(gen.RAW_COLUMNS)


def _write(tmp_path, polls):
    import pyarrow as pa

    path = str(tmp_path / "polls.parquet")
    pq.write_table(pa.concat_tables(polls), path)
    return path


def test_benchmark_json_names_the_reported_metrics():
    import json

    import run

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
