"""Event latency derived from the file source's batch map and the
table's commit log, including compacted source-log files."""

import json

import pytest

from perfbench.streamlog import commit_times, file_batches, file_latencies, latency_summary


def _write_log(path, entries):
    lines = ["v1"] + [json.dumps(e) for e in entries]
    path.write_text("\n".join(lines) + "\n")


def _entry(name, batch):
    return {"path": f"file:///data/src/{name}", "timestamp": 0, "batchId": batch}


def test_file_batches_reads_plain_and_compact_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # 39.compact repeats every earlier entry; the plain files it covers
    # may already be deleted
    _write_log(log / "39.compact", [_entry(f"f{b}.json", b) for b in range(40)])
    _write_log(log / "40", [_entry("f40.json", 40), _entry("f40b.json", 40)])
    _write_log(log / "41", [_entry("f41.json", 41)])
    (log / ".41.crc").write_text("junk")
    (log / "42.tmp").write_text("partial")
    got = file_batches(str(log))
    assert got["f0.json"] == 0
    assert got["f39.json"] == 39
    assert got["f40b.json"] == 40
    assert got["f41.json"] == 41
    assert len(got) == 43


def test_file_batches_of_missing_log_is_empty(tmp_path):
    assert file_batches(str(tmp_path / "nope")) == {}


def test_commit_times_keep_the_tagged_merge_commit_per_batch():
    history = [
        {"txn": ["sink", 0], "ts": 10.0, "adds": ["a"]},
        {"ts": 10.5, "adds": ["c"], "removes": ["a"]},  # untagged compaction
        {"txn": ["other", 1], "ts": 11.0},
        {"txn": ["sink", 1], "ts": 12.0},
    ]
    assert commit_times(history, "sink") == {0: 10.0, 1: 12.0}


def test_file_latencies_join_schedule_batch_and_commit():
    scheduled = {"a.json": (100.0, 50), "b.json": (100.5, 50), "c.json": (101.0, 20)}
    batches = {"a.json": 3, "b.json": 3, "c.json": 4}
    commits = {3: 101.5, 4: 102.5}
    got = sorted(file_latencies(scheduled, batches, commits))
    assert got == [(1.0, 50, 3), (1.5, 20, 4), (1.5, 50, 3)]


def test_file_never_committed_has_no_latency():
    with pytest.raises(KeyError):
        file_latencies({"a.json": (1.0, 1)}, {"a.json": 7}, {})
    with pytest.raises(KeyError):
        file_latencies({"a.json": (1.0, 1)}, {}, {7: 2.0})


def test_latency_summary_weights_events_and_counts_batches():
    # batch 3 carries 90 events at ~1 s, batch 4 ten events at 5 s
    lat = [(1.0, 50, 3), (1.2, 40, 3), (5.0, 10, 4)]
    p50, p90, n = latency_summary(lat)
    assert p50 == 1.0
    assert p90 == 1.2
    assert n == 2
    assert latency_summary(lat + [(6.0, 30, 5)])[1:] == (6.0, 3)
