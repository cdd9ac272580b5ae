"""One workload in one Spark session: the process ``run.py`` starts.

Usage (normally through ``run.py``, which pins the environment):

    python3 -m perfbench.worker --workload cdc_stream --seed 1 \
        --seconds 20 --trace 0 --out result.json

Writes one JSON document to ``--out``: end-to-end metrics (each with
unit and sample count), per-layer metrics when traced, the
attempted/failed op counts and the errors behind them. Every Spark layer
is observed from outside the package: wall time around calls into its
public functions, plus Spark's own counters (status tracker and status
store, ``QueryExecution.tracker()``, ``StreamingQueryProgress``) and the
commit log the table keeps (``TxLogTable.history()``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import threading
import time
import traceback
from collections import Counter

from perfbench import datagen, streamlog
from perfbench.stats import Metric, OpCounter, geomean, percentile

QUERY_MIXES = {
    "query_relational": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q10_returned_items",
        "q18_large_orders",
        "grouping_sets_revenue",
        "cube_orders",
        "top_orders_per_segment",
        "orders_without_lineitems",
        "customer_running_total",
        "user_sessions",
        "cdc_latest_state",
        "cdc_scd2_history",
    ),
    "query_iterative": (
        "supplier_part_pagerank",
        "supplier_reach_hops",
        "part_name_entity_resolution",
        "lineitem_spearman",
        "customer_rfm_segments",
    ),
}
WORKLOADS = (*QUERY_MIXES, "cdc_stream")

QUERY_SF = 0.01  # the mixes are per-job-overhead bound; sf0.1 only lengthens runs
MIN_WARM_PASSES = 1

# cdc_stream sizing, in events (never generator steps)
BACKLOG_FILES = 40
EVENTS_PER_FILE = 100
TICK_S = 0.5  # one file every tick: 200 events/s
READ_EVERY_S = 2.0
TRIGGER = "1 second"
MAX_FILES_PER_TRIGGER = 8
N_BUCKETS = 8  # at the sink's default 64, batches fell behind 200 events/s
DRAIN_TIMEOUT_S = 60.0
LATENCY_BOUND_S = 60.0  # the reference's file rotation interval
WRITER_ID = "perfbench_sink"

# per-layer metrics every traced run reports; 0 where the workload does
# not exercise the layer. For cdc_stream, plans.* and catalyst.* describe
# the monitor queries and exec.* one micro-batch.
LAYER_UNITS = {
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_jobs_spread": "count",
    "plans.first_call_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_frac": "fraction",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "cache.persisted_rdds": "count",
    "cache.storage_bytes": "bytes",
    "stream.batches": "count",
    "stream.events_per_batch": "count",
    "stream.jobs_per_batch": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p90": "ms",
    "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.source_lag_files": "count",
    "txlog.commits_per_batch": "count",
    "txlog.files_added_per_batch": "count",
    "txlog.write_amp": "ratio",
    "txlog.live_files_per_bucket_max": "count",
    "txlog.lookup_files_read_frac": "fraction",
    "mem.peak_rss_mb": "MB",
    "gen.late_max_s": "s",
    "gen.pregen_s": "s",
    "trace.overhead_frac": "fraction",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process (sum of the two
    high-water marks)."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class SparkCounters:
    """Spark's own counters, read from outside the package."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def exec_counts(self, job_ids: list[int]) -> dict[str, float]:
        """Stages and tasks that ran (skipped stages excluded), task time
        and shuffle/spill bytes for ``job_ids``."""
        out = dict.fromkeys(
            ("stages", "tasks", "task_s", "shuffle_read", "shuffle_write", "spill"), 0.0
        )
        seen = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def cache(self) -> tuple[int, int]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return (
            self.sc._jsc.getPersistentRDDs().size(),
            sum(i.memSize() + i.diskSize() for i in infos),
        )


# ------------------------------------------------------------ queries --


def _observe_content(df):
    """``df`` with its (row count, order-insensitive hash) observed while
    it executes, so the check costs no second execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    )
    return observed, obs


def _phases(df) -> dict[str, float]:
    """Catalyst phase times of the returned plan. Analysis already ran
    while the DataFrame was built, so its time comes from the plan's
    tracker (whole ms); optimization and planning are forced and timed."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    qe.executedPlan()
    t2 = time.perf_counter()
    analysis = qe.tracker().phases().get("analysis")
    return {
        "analysis": analysis.get().durationMs() / 1000.0 if analysis.isDefined() else 0.0,
        "optimization": t1 - t0,
        "planning": t2 - t1,
    }


def run_queries(spark, names, sf_dir, seed, seconds, traced, ops, cores):
    from cdc_streaming_pipeline_spark.plans import QUERIES

    counters = SparkCounters(spark)
    rng = random.Random(seed)
    hashes: dict[str, set] = {n: set() for n in names}
    calls: dict[str, list[dict]] = {n: [] for n in names}
    passes: list[dict] = []

    def call(name: str, tag: str, trace: bool) -> dict:
        """One query call. ``wall_s`` excludes the tracing work, whose own
        time is ``trace_s``: traced minus untraced, measured per call."""
        rec: dict = {"trace": trace}
        group = f"perfbench:{name}:{tag}"
        counters.sc.setJobGroup(group + ":construct", name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        observed, obs = _observe_content(df)
        t_obs = time.perf_counter()
        if trace:
            rec["construct_jobs"] = len(counters.jobs(group + ":construct"))
            rec.update(_phases(df))
        counters.sc.setJobGroup(group + ":execute", name)
        t2 = time.perf_counter()
        observed.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        if trace:
            jobs = counters.jobs(group + ":execute")
            rec["jobs"] = len(jobs)
            rec.update(counters.exec_counts(jobs))
            rec["trace_s"] = (t2 - t_obs) + (time.perf_counter() - t3)
        rec["construct_s"] = t1 - t0
        rec["execute_s"] = t3 - t2
        rec["wall_s"] = rec["construct_s"] + rec["execute_s"]
        content = obs.get
        hashes[name].add((int(content["n"]), int(content["h"] or 0)))
        return rec

    def one_pass(tag: str, trace: bool) -> dict:
        order = list(names)
        rng.shuffle(order)
        t0 = time.perf_counter()
        recs = {}
        for name in order:
            try:
                recs[name] = call(name, tag, trace)
                ops.ok()
                calls[name].append(recs[name])
            except Exception as exc:  # noqa: BLE001 — a failed query stays in the denominator
                ops.fail(f"{name}: {type(exc).__name__}: {exc}".splitlines()[0])
        wall = sum(r["wall_s"] for r in recs.values())
        out = {"tag": tag, "trace": trace, "wall_s": wall, "elapsed_s": time.perf_counter() - t0}
        if trace:
            out["cache"] = counters.cache()
        passes.append(out)
        return out

    # the cold pass is never traced: its excess over the warm passes is
    # the first-call cost
    cold = one_pass("cold", False)
    cold_calls = {n: calls[n][0]["wall_s"] for n in names if calls[n]}
    t_start = time.perf_counter()
    while len(passes) <= MIN_WARM_PASSES or time.perf_counter() - t_start < seconds:
        one_pass(f"warm{len(passes)}", traced)

    warm = passes[1:]
    warm_calls = {n: [c["wall_s"] for c in calls[n][1:]] for n in names}
    per_query = {n: _median(v) for n, v in warm_calls.items() if v}
    mix = [p["wall_s"] for p in warm]
    all_calls = [x for v in warm_calls.values() for x in v]
    e2e = {
        "mix_s": Metric(_median(mix), "s", len(mix)),
        "query_geomean_s": Metric(geomean(list(per_query.values())), "s", len(all_calls)),
        "query_p90_s": Metric(percentile(list(per_query.values()), 90), "s", len(all_calls)),
        "queries_per_s": Metric(len(all_calls) / sum(mix), "1/s", len(all_calls)),
        "first_call_s": Metric(cold["wall_s"] - _median(mix), "s", 1),
    }
    for name in names:
        ops.check(len(hashes[name]) == 1, f"{name} result differs across passes")

    layers = {}
    if traced:
        tr = [c for n in names for c in calls[n] if c["trace"]]
        tpasses = [p for p in passes if p["trace"]]
        n_tp = len(tpasses)
        sum_per_pass = lambda key: sum(c.get(key, 0.0) for c in tr) / n_tp  # noqa: E731
        construct_jobs = {n: [c["construct_jobs"] for c in calls[n] if c["trace"]] for n in names}
        execute_s = sum_per_pass("execute_s")
        task_s = sum_per_pass("task_s")
        layers = {
            "plans.construct_s": sum_per_pass("construct_s"),
            "plans.construct_jobs": sum(_median(v) for v in construct_jobs.values()),
            "plans.construct_jobs_spread": sum(max(v) - min(v) for v in construct_jobs.values() if v),
            "plans.first_call_s": sum(cold_calls[n] - per_query[n] for n in per_query if n in cold_calls),
            "catalyst.analysis_s": sum_per_pass("analysis"),
            "catalyst.optimization_s": sum_per_pass("optimization"),
            "catalyst.planning_s": sum_per_pass("planning"),
            "exec.execute_s": execute_s,
            "exec.jobs": sum_per_pass("jobs"),
            "exec.stages": sum_per_pass("stages"),
            "exec.tasks": sum_per_pass("tasks"),
            "exec.task_s": task_s,
            "exec.busy_frac": task_s / (execute_s * cores) if execute_s else 0.0,
            "exec.shuffle_read_bytes": sum_per_pass("shuffle_read"),
            "exec.shuffle_write_bytes": sum_per_pass("shuffle_write"),
            "exec.spill_bytes": sum_per_pass("spill"),
            "cache.persisted_rdds": tpasses[-1]["cache"][0],
            "cache.storage_bytes": tpasses[-1]["cache"][1],
            "trace.overhead_frac": sum(c["trace_s"] for c in tr) / sum(c["wall_s"] for c in tr),
        }
    detail = {
        "per_query_warm_s": per_query,
        "per_query_cold_s": cold_calls,
        "passes": passes,
        "calls": calls,
        "construct_jobs_by_query": {
            n: [c.get("construct_jobs") for c in calls[n] if c["trace"]] for n in names
        },
    }
    return e2e, layers, detail


# --------------------------------------------------------- cdc_stream --


def _last_batch(commit_dir: str) -> int:
    """Newest micro-batch id with a checkpoint commit, -1 if none."""
    if not os.path.isdir(commit_dir):
        return -1
    return max((int(n) for n in os.listdir(commit_dir) if n.isdigit()), default=-1)


class CdcRun:
    """Seeded CDC events into the bucketed merge sink: backfill, then an
    open loop with a concurrent reader, then the end-state check."""

    def __init__(self, workdir: str, seed: int, seconds: float, traced: bool, ops: OpCounter):
        self.seed = seed
        self.traced = traced
        self.seconds = seconds
        self.ops = ops
        self.src = os.path.join(workdir, "src")
        self.staging = os.path.join(workdir, "staging")
        self.table_path = os.path.join(workdir, "table")
        self.ckpt = os.path.join(workdir, "ckpt")
        for d in (self.src, self.staging):
            os.makedirs(d, exist_ok=True)
        self.n_open = max(1, round(seconds / TICK_S))
        self.scheduled: dict[str, tuple[float, int]] = {}
        self.lag: list[int] = []
        self.late: list[float] = []
        self.reads: list[dict] = []

    def pregenerate(self) -> None:
        """The whole seeded log, staged as files before any timed span."""
        from cdc_streaming_pipeline_spark.workload import CdcWorkloadGenerator

        gen = CdcWorkloadGenerator(seed=self.seed)
        gen.initial_load(20)
        n_files = BACKLOG_FILES + self.n_open
        while len(gen.events) < n_files * EVENTS_PER_FILE:
            gen.step()
        # the ground truth: the generator's applied state after its whole log
        self.expected = {(int(k), t) for t in gen.state for k in gen.applied_state(t)}
        self.lookup_ids = sorted({k for k, _ in self.expected})
        self.files = []
        self.event_bytes = 0
        for i in range(n_files):
            name = f"events_{i:05d}.json"
            # the last file also carries the few events of the final step
            end = (i + 1) * EVENTS_PER_FILE if i < n_files - 1 else len(gen.events)
            chunk = gen.events[i * EVENTS_PER_FILE : end]
            body = "".join(json.dumps(e) + "\n" for e in chunk)
            with open(os.path.join(self.staging, name), "w", encoding="utf-8") as fh:
                fh.write(body)
            self.event_bytes += len(body.encode("utf-8"))
            self.files.append((name, len(chunk)))

    def land(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))

    def committed_files(self) -> int:
        """Files in micro-batches whose checkpoint commit exists."""
        done = _last_batch(os.path.join(self.ckpt, "commits"))
        batches = streamlog.file_batches(os.path.join(self.ckpt, "sources", "0"))
        return sum(1 for b in batches.values() if b <= done)

    def start_stream(self):
        from cdc_streaming_pipeline_spark.sources.event_log import read_event_log
        from cdc_streaming_pipeline_spark.streaming.pipeline import bucketed_merge_stream_sink

        stream = read_event_log(
            self.spark,
            self.src,
            streaming=True,
            options={"maxFilesPerTrigger": str(MAX_FILES_PER_TRIGGER)},
        )
        writer = bucketed_merge_stream_sink(
            stream,
            self.table_path,
            self.ckpt,
            key_cols=["id", "_table"],
            n_buckets=N_BUCKETS,
            writer_id=WRITER_ID,
            stats_cols=["id"],
        )
        return writer.trigger(processingTime=TRIGGER).start()

    def table(self):
        from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable

        return BucketedTxLogTable(self.spark, self.table_path, key_cols=["id", "_table"])

    def wait_committed(self, query, n_files: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if query.exception() is not None:
                return False
            if self.committed_files() >= n_files:
                return True
            time.sleep(0.05)
        return False

    def reader(self, t0: float, stop: threading.Event) -> None:
        """Monitor queries on a fixed schedule against the live table."""
        from pyspark.sql import functions as F

        rng = random.Random(self.seed + 1)
        sc = self.spark.sparkContext
        j = 0
        while not stop.is_set():
            due = t0 + j * READ_EVERY_S
            delay = due - time.time()
            if delay > 0 and stop.wait(delay):
                break
            kind = "count" if j % 2 == 0 else "lookup"
            try:
                sc.setJobGroup("perfbench:reader:construct", kind)
                t_op = time.perf_counter()
                table = self.table()
                if kind == "count":
                    df = table.read_state().groupBy("_table").agg(F.count(F.lit(1)))
                    read, total = 0, 0
                else:
                    k = rng.choice(self.lookup_ids)
                    df, read, total = table.read_state_where("id", k, k)
                t_built = time.perf_counter()
                phases = _phases(df) if self.traced else {}
                sc.setJobGroup("perfbench:reader:execute", kind)
                t_exec = time.perf_counter()
                df.collect()
                self.reads.append(
                    {
                        "kind": kind,
                        "latency_s": time.time() - due,
                        "read": read,
                        "total": total,
                        "construct_s": t_built - t_op,
                        "execute_s": time.perf_counter() - t_exec,
                        "trace_s": t_exec - t_built,
                        **phases,
                    }
                )
                self.ops.ok()
            except Exception as exc:  # noqa: BLE001 — a failed read stays in the denominator
                self.ops.fail(f"reader {kind}: {type(exc).__name__}: {exc}".splitlines()[0])
            j += 1

    def run(self, spark) -> dict:
        self.spark = spark
        backlog = self.files[:BACKLOG_FILES]
        open_files = self.files[BACKLOG_FILES:]
        for name, _ in backlog:
            self.land(name)
        t_start = self.t_start = time.time()
        query = self.start_stream()
        self.query = query
        try:
            drained = self.wait_committed(query, len(backlog), DRAIN_TIMEOUT_S)
            self.ops.check(drained, "backlog drained")
            stop = threading.Event()
            t_open = time.time()
            reader = threading.Thread(target=self.reader, args=(t_open, stop), daemon=True)
            reader.start()
            try:
                for i, (name, n_events) in enumerate(open_files):
                    due = t_open + i * TICK_S
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    self.land(name)
                    self.late.append(time.time() - due)
                    self.scheduled[name] = (due, n_events)
                    self.lag.append(i + 1 + len(backlog) - self.committed_files())
                time.sleep(max(0.0, t_open + len(open_files) * TICK_S - time.time()))
            finally:
                stop.set()
                reader.join(timeout=DRAIN_TIMEOUT_S)
            drained = self.wait_committed(query, len(self.files), DRAIN_TIMEOUT_S)
            self.ops.check(drained, "open-loop events all committed")
        finally:
            query.stop()
            exc = query.exception()
        if exc is not None:
            self.ops.fail(f"stream: {exc}".splitlines()[0])
        return self.summarize(t_start, backlog)

    def summarize(self, t_start: float, backlog) -> dict:
        history = self.table().history()
        batches = streamlog.file_batches(os.path.join(self.ckpt, "sources", "0"))
        commits = streamlog.commit_times(history, WRITER_ID)
        self.history, self.batch_map, self.commits = history, batches, commits
        for b in sorted(set(batches.values())):
            if b in commits:
                self.ops.ok()  # one committed micro-batch
            else:
                self.ops.fail(f"micro-batch {b} has no table commit")
        p50, p90, n_open = streamlog.latency_summary(
            streamlog.file_latencies(self.scheduled, batches, commits)
        )
        # backfill rate: median over the backlog batches after the first
        # (bootstrap) one, whose cold start setup_s already reports; a
        # batch's time runs from the previous batch's commit to its own
        first = min(commits)
        backlog_batches: Counter = Counter()
        for name, n in backlog:
            backlog_batches[batches[name]] += n
        rates = [
            n / (commits[b] - commits[b - 1])
            for b, n in sorted(backlog_batches.items())
            if b > first
        ]
        all_reads = [r["latency_s"] for r in self.reads]
        e2e = {
            "event_p50_s": Metric(p50, "s", n_open),
            "event_p90_s": Metric(p90, "s", n_open),
            "backfill_eps": Metric(_median(rates), "events/s", len(rates)),
            "read_p50_s": Metric(percentile(all_reads, 50), "s", len(all_reads)),
            "read_p90_s": Metric(percentile(all_reads, 90), "s", len(all_reads)),
            "first_commit_s": Metric(commits[first] - t_start, "s", 1),
        }
        self.ops.check(e2e["event_p90_s"].value < LATENCY_BOUND_S, "event_p90_s under 60 s")
        half = len(self.lag) // 2
        grew = _median(self.lag[half:]) > _median(self.lag[:half]) + MAX_FILES_PER_TRIGGER
        self.ops.check(not grew, f"backlog grew during the open loop: {self.lag}")
        got = {
            (int(r["id"]), r["_table"])
            for r in self.table().read_state().select("id", "_table").collect()
        }
        self.ops.check(got == self.expected, f"read_state keys {len(got)} != applied {len(self.expected)}")
        return e2e

    def layers(self, counters: SparkCounters, cores: int) -> dict:
        """Per-layer numbers of a traced run, read after the timed phases.
        Execution is per micro-batch; construction and Catalyst are per
        monitor query, as are the tracing calls behind the overhead."""
        from cdc_streaming_pipeline_spark.sources.txlog import resolve_snapshot_state

        progress = [p for p in self.query.recentProgress if p.numInputRows > 0]
        dur = lambda key: _median([p.durationMs.get(key, 0) for p in progress])  # noqa: E731
        trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
        n_batches = len(set(self.batch_map.values()))
        stream_jobs = counters.jobs(str(self.query.runId))
        ex = counters.exec_counts(stream_jobs)
        execute_s = dur("addBatch") / 1000.0
        commit_ts = [self.commits[b] for b in sorted(self.commits)]
        gaps = [b - a for a, b in zip(commit_ts, commit_ts[1:])]
        events = sum(n for _, n in self.files)
        adds = [a for e in self.history for a in e.get("adds", [])]
        added_bytes = sum(
            os.path.getsize(os.path.join(self.table_path, a))
            for a in adds
            if os.path.exists(os.path.join(self.table_path, a))
        )
        live, bmap, _ = resolve_snapshot_state(self.table())
        per_bucket = Counter(bmap.get(f) for f in live)
        reads = self.reads
        lookups = [r for r in reads if r["kind"] == "lookup"]
        mean = lambda key: sum(r[key] for r in reads) / len(reads)  # noqa: E731
        persisted, storage = counters.cache()
        return {
            "plans.construct_s": mean("construct_s"),
            "plans.construct_jobs": len(counters.jobs("perfbench:reader:construct")) / len(reads),
            "plans.first_call_s": (commit_ts[0] - self.t_start) - _median(gaps),
            "catalyst.analysis_s": mean("analysis"),
            "catalyst.optimization_s": mean("optimization"),
            "catalyst.planning_s": mean("planning"),
            "exec.execute_s": execute_s,
            "exec.jobs": len(stream_jobs) / n_batches,
            "exec.stages": ex["stages"] / n_batches,
            "exec.tasks": ex["tasks"] / n_batches,
            "exec.task_s": ex["task_s"] / n_batches,
            "exec.busy_frac": ex["task_s"] / n_batches / (execute_s * cores) if execute_s else 0.0,
            "exec.shuffle_read_bytes": ex["shuffle_read"] / n_batches,
            "exec.shuffle_write_bytes": ex["shuffle_write"] / n_batches,
            "exec.spill_bytes": ex["spill"] / n_batches,
            "cache.persisted_rdds": persisted,
            "cache.storage_bytes": storage,
            "stream.batches": n_batches,
            "stream.events_per_batch": events / n_batches,
            "stream.jobs_per_batch": len(stream_jobs) / n_batches,
            "stream.trigger_ms_p50": percentile(trig, 50) if trig else 0.0,
            "stream.trigger_ms_p90": percentile(trig, 90) if trig else 0.0,
            "stream.add_batch_ms": dur("addBatch"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.source_lag_files": _median(self.lag),
            "txlog.commits_per_batch": len(self.history) / n_batches,
            "txlog.files_added_per_batch": len(adds) / n_batches,
            "txlog.write_amp": added_bytes / self.event_bytes,
            "txlog.live_files_per_bucket_max": max(per_bucket.values(), default=0),
            "txlog.lookup_files_read_frac": (
                sum(r["read"] for r in lookups) / sum(r["total"] for r in lookups) if lookups else 0.0
            ),
            "gen.late_max_s": max(self.late, default=0.0),
            "trace.overhead_frac": sum(r["trace_s"] for r in reads)
            / sum(r["construct_s"] + r["execute_s"] for r in reads),
        }


# --------------------------------------------------------------- main --


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    ops = OpCounter()
    traced = bool(args.trace)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    result: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    layers: dict = {}
    detail: dict = {}
    t0 = time.perf_counter()
    if args.workload in QUERY_MIXES:
        sf_dir = datagen.write_sf_dir(
            os.path.join(args.workdir, f"sf{QUERY_SF}"), QUERY_SF, args.seed
        )
        layers["gen.pregen_s"] = time.perf_counter() - t0
    else:
        cdc = CdcRun(args.workdir, args.seed, args.seconds, traced, ops)
        cdc.pregenerate()
        layers["gen.pregen_s"] = time.perf_counter() - t0

    from cdc_streaming_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t0
    try:
        if args.workload in QUERY_MIXES:
            e2e, qlayers, detail = run_queries(
                spark, QUERY_MIXES[args.workload], sf_dir, args.seed, args.seconds, traced, ops, cores
            )
            layers.update(qlayers)
            e2e["setup_s"] = Metric(session_s + e2e["first_call_s"].value, "s", 1)
        else:
            e2e = cdc.run(spark)
            e2e["setup_s"] = Metric(session_s + e2e["first_commit_s"].value, "s", 1)
            if traced:
                layers.update(cdc.layers(SparkCounters(spark), cores))
            detail = {
                "lag_files": cdc.lag,
                "reads": cdc.reads,
                "late_s": cdc.late,
                "batch_commit_ts": cdc.commits,
                "files_per_batch": dict(Counter(cdc.batch_map.values())),
            }
        e2e["session_s"] = Metric(session_s, "s", 1)
        e2e["peak_rss_mb"] = Metric(peak_rss_mb(spark), "MB", 1)
        layers["mem.peak_rss_mb"] = e2e["peak_rss_mb"].value
    except Exception:  # noqa: BLE001 — report the failure instead of a result
        ops.fail(traceback.format_exc().strip().splitlines()[-1])
        traceback.print_exc()
        e2e = {}
    finally:
        spark.stop()

    e2e["error_rate"] = Metric(ops.error_rate, "fraction", ops.attempted)
    result.update(
        {
            "attempted": ops.attempted,
            "failed": ops.failed,
            "errors": ops.errors[:50],
            "e2e": {k: vars(m) for k, m in e2e.items()},
            "layers": layers,
            "detail": detail,
        }
    )
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
