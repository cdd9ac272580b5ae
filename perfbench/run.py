#!/usr/bin/env python3
"""Layered benchmark of the CDC engine: one command, three workloads.

    python3 perfbench/run.py                      # every workload, untraced
    python3 perfbench/run.py --trace 1            # every workload, traced
    python3 perfbench/run.py --workload cdc_stream --seed 3 --seconds 20 --trace 0

Run from the root of a checkout. Each workload runs in its own process
(``perfbench/worker.py``) with a pinned environment: all cores
(``SPARK_GRAFT_CPUS``), a driver heap that fits the host, Spark's local
dirs, temp dirs and the working directory under ``.perfbench/`` in the
checkout, and an explicit ``PYTHONPATH``, so Spark's Python workers
import the package whatever the caller's cwd. Every metric is printed by
name with its unit and sample count; the last line of standard output is
one JSON object (``correct``, ``attempted``, ``failed``, ``metrics``).
Each workload's full result (with ``--trace 1``, its per-layer metrics
and per-query or per-batch detail) is written to
``.perfbench/results/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.worker import LAYER_UNITS, QUERY_MIXES, WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170.0  # one invocation must end within 180 s
MAX_DRIVER_MB = 3072

# the end-to-end metrics BENCHMARK.json gates, one name for every
# workload: name -> (unit, the workload's own metric it reports)
END_TO_END = {
    "setup_s": ("s", {"query": "setup_s", "cdc": "setup_s"}),
    "latency_s": ("s", {"query": "query_geomean_s", "cdc": "event_p50_s"}),
    "throughput_per_s": ("1/s", {"query": "queries_per_s", "cdc": "backfill_eps"}),
}
BASELINE_METRICS = {"baseline1.event_p50_s": "s", "baseline1.backfill_eps": "events/s"}
PER_LAYER_UNITS = {**LAYER_UNITS, "log.warn_lines": "count"}

_WARN = re.compile(r"\bWARN\s+(?:\[[^\]]*\]\s+)?([\w.$]+)")


def cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def host_share(before: list[int], after: list[int]) -> dict[str, float]:
    """Idle and steal shares of all CPU ticks between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    return {"host.idle_frac": delta[3] / total, "host.steal_frac": delta[7] / total}


def driver_memory_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(MAX_DRIVER_MB, total_kb // 1024 // 4)


def warn_lines(log_path: Path) -> Counter:
    counts: Counter = Counter()
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            m = _WARN.search(line)
            if m:
                counts[m.group(1)] += 1
    return counts


def run_worker(workload, seed, seconds, trace, deadline, cores=None) -> dict | None:
    """One workload in a fresh process; None if it produced no result."""
    cores = cores or len(os.sched_getaffinity(0))
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}-{workload}-{cores}"
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: run_dir / k for k in ("cwd", "local", "tmp", "work")}
    for d in dirs.values():
        d.mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": str(ROOT),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
            "SPARK_LOCAL_DIRS": str(dirs["local"]),
            "TMPDIR": str(dirs["tmp"]),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    out = run_dir / "result.json"
    log = run_dir / "worker.log"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--workdir", str(dirs["work"]), "--out", str(out),
    ]  # fmt: skip
    ticks = cpu_ticks()
    with open(log, "w", encoding="utf-8") as fh:
        proc = subprocess.Popen(
            cmd, cwd=dirs["cwd"], env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )  # fmt: skip
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print(f"{workload}: timed out, stopping it", file=sys.stderr)
        finally:
            _stop(proc)
    result = None
    if proc.returncode == 0 and out.exists():
        result = json.loads(out.read_text())
        result["host"] = host_share(ticks, cpu_ticks())
        result["warn_by_logger"] = dict(warn_lines(log))
    else:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def _stop(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (its JVM and Python workers
    too) and wait until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 10
        while time.monotonic() < end:
            proc.poll()  # reap the leader so it leaves the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def end_to_end(result: dict) -> dict:
    kind = "query" if result["workload"] in QUERY_MIXES else "cdc"
    e2e = result["e2e"]
    return {
        name: {"value": e2e[src[kind]]["value"], "unit": unit}
        for name, (unit, src) in END_TO_END.items()
    }


def per_layer(result: dict, baseline: dict | None) -> dict:
    """Every per-layer metric of a traced run, 0 where not exercised."""
    values = dict(result["layers"])
    values["log.warn_lines"] = sum(result["warn_by_logger"].values())
    if baseline:
        values["baseline1.event_p50_s"] = baseline["e2e"]["event_p50_s"]["value"]
        values["baseline1.backfill_eps"] = baseline["e2e"]["backfill_eps"]["value"]
    names = {**PER_LAYER_UNITS, **(BASELINE_METRICS if baseline else {})}
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in names.items()}


def report(result: dict) -> None:
    w = result["workload"]
    for name, m in result["e2e"].items():
        print(f"{w} {name} {m['value']:.6g} {m['unit']} n={m['n']}")
    for name, v in result["host"].items():
        print(f"{w} {name} {v:.4f} fraction n=1")
    for err in result["errors"]:
        print(f"{w} FAILED {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run_worker's cleanup, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "cdc_streaming_pipeline_spark" / "__init__.py").is_file():
        print(f"no cdc_streaming_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2

    workloads = [args.workload] if args.workload else list(WORKLOADS)
    # a single workload must fit the 180 s limit; the full sweep has no limit
    limit = RUN_LIMIT_S if args.workload else float("inf")
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        deadline = time.monotonic() + limit
        result = run_worker(w, args.seed, args.seconds, args.trace, deadline)
        if result is None:
            print(f"{w}: the worker produced no result", file=sys.stderr)
            return 1
        baseline = None
        if args.trace and w == "cdc_stream" and not args.workload:
            # the single-core baseline rides the full traced sweep only, so
            # one traced invocation stays within its time limit
            baseline = run_worker(w, args.seed, args.seconds, 0, deadline, cores=1)
            if baseline:
                result["baseline1"] = baseline
        report(result)
        if not result["e2e"].get("setup_s"):
            print(f"{w}: the workload did not complete", file=sys.stderr)
            return 1
        if args.trace:
            result["per_layer"] = per_layer(result, baseline)
            for name, m in result["per_layer"].items():
                print(f"{w} {name} {m['value']:.6g} {m['unit']}")
            metrics = result["per_layer"]
        else:
            metrics = end_to_end(result)
        out_dir = ROOT / ".perfbench" / "results"
        out_dir.mkdir(parents=True, exist_ok=True)
        out = out_dir / f"{w}-seed{args.seed}-trace{args.trace}.json"
        out.write_text(json.dumps(result, indent=1, default=str))
        print(f"{w} details written to {out.relative_to(ROOT)}")
        summary["attempted"] += result["attempted"]
        summary["failed"] += result["failed"]
        summary["correct"] = summary["correct"] and result["failed"] == 0
        summary["metrics"][w] = metrics
    if args.workload:
        summary["metrics"] = summary["metrics"][args.workload]
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
