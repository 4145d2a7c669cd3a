"""File -> micro-batch -> commit time mapping on a synthetic checkpoint
laid out like Spark's file source log and commit log."""

import json
import os

import pytest

import feed


def _log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name, batch):
    return {"path": f"file:///landing/{name}", "timestamp": 0, "batchId": batch}


@pytest.fixture
def ckpt(tmp_path):
    root = str(tmp_path / "ckpt")
    src = os.path.join(root, "sources", "0")
    # Source log offsets 0-1 compacted into "1.compact", 2 and 3 as plain
    # entries. Micro-batch 2 read no new file (a watermark-only batch), so
    # offsets 2 and 3 belong to micro-batches 3 and 4.
    _log(os.path.join(src, "1.compact"), [_entry("a", 0), _entry("b", 1), _entry("c", 1)])
    _log(os.path.join(src, "2"), [_entry("d", 2)])
    _log(os.path.join(src, "3"), [_entry("e", 3)])
    for batch, off in ((0, 0), (1, 1), (2, 1), (3, 2), (4, 3)):
        _log(os.path.join(root, "offsets", str(batch)), [{"batchWatermarkMs": 0}, {"logOffset": off}])
    # micro-batch 4 never committed
    for batch, t in ((0, 100.0), (1, 101.5), (2, 102.0), (3, 103.0)):
        path = os.path.join(root, "commits", str(batch))
        _log(path, [{"nextBatchWatermarkMs": 0}])
        os.utime(path, (t, t))
    with open(os.path.join(root, "commits", ".2.crc"), "w") as f:
        f.write("x")
    return root


def test_file_batches(ckpt):
    assert feed.file_batches(ckpt) == {"a": 0, "b": 1, "c": 1, "d": 3, "e": 4}


def test_committed_at(ckpt):
    assert feed.committed_at(ckpt) == {"a": 100.0, "b": 101.5, "c": 101.5, "d": 103.0}


def test_freshness_counts_uncommitted_files_until_now(ckpt):
    landed = [
        {"file": "a", "due": None},  # backlog file: no due time, no sample
        {"file": "b", "due": 101.0},
        {"file": "c", "due": 101.25},
        {"file": "d", "due": 102.0},
        {"file": "e", "due": 103.5},
    ]
    samples, missing = feed.freshness(landed, ckpt, now=110.0)
    assert samples == pytest.approx([0.5, 0.25, 1.0, 6.5])
    assert missing == 1
