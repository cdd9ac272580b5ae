"""Pure derivation of event latency from logs the stream leaves behind.

Two logs are read after the run, so nothing is traced inside the engine:

- the file source's batch map, ``<checkpoint>/sources/0/``: one file per
  micro-batch (``N``) plus every ``compactInterval`` batches a compacted
  file (``N.compact``) that repeats all earlier entries, after which Spark
  may delete the plain files it covers. Each file starts with a version
  line (``v1``) followed by one JSON entry per landed file;
- the table's commit log (``TxLogTable.history()``): every merge commit
  carries ``txn = [writer_id, batch_id]`` and its wall-clock ``ts``, the
  moment the batch became visible to ``read_state``.

An event's latency is the commit time of the batch that read its file
minus the time the file was scheduled to be written.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Mapping, Sequence

from perfbench.stats import weighted_percentile

_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")


def file_batches(source_log_dir: str) -> dict[str, int]:
    """Landed file basename -> micro-batch id, from a file source log."""
    batches: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return batches
    for name in sorted(os.listdir(source_log_dir)):
        if not _LOG_NAME.match(name):
            continue  # .tmp / .crc siblings
        with open(os.path.join(source_log_dir, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # lines[0] is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            batches[os.path.basename(entry["path"])] = int(entry["batchId"])
    return batches


def commit_times(history: Iterable[Mapping], writer_id: str) -> dict[int, float]:
    """Micro-batch id -> wall-clock time of its tagged table commit."""
    out: dict[int, float] = {}
    for entry in history:
        txn = entry.get("txn")
        if txn and txn[0] == writer_id and "ts" in entry:
            out.setdefault(int(txn[1]), float(entry["ts"]))
    return out


def file_latencies(
    scheduled: Mapping[str, tuple[float, int]],
    batches: Mapping[str, int],
    commits: Mapping[int, float],
) -> list[tuple[float, int, int]]:
    """(latency_s, events, batch_id) for each scheduled file, where
    ``scheduled`` maps file basename -> (scheduled wall time, events).
    A file missing from the batch map or without a commit raises
    KeyError: an event that never became readable has no latency."""
    out = []
    for name, (t_sched, events) in scheduled.items():
        batch = batches[name]
        out.append((commits[batch] - t_sched, events, batch))
    return out


def latency_summary(lat: Sequence[tuple[float, int, int]]) -> tuple[float, float, int]:
    """(p50, p90, samples) of ``file_latencies`` output. Percentiles are
    over events; the sample count is the number of micro-batches, because
    events of one batch share its commit and are not independent."""
    pairs = [(latency, events) for latency, events, _ in lat]
    return (
        weighted_percentile(pairs, 50),
        weighted_percentile(pairs, 90),
        len({batch for _, _, batch in lat}),
    )
