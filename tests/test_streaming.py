"""Streaming e2e (SURVEY milestone 2): file-source readStream → CDC
transforms → time-partitioned sink + DLQ + latest-state upsert; incremental
micro-batches; late events land in event-time partitions; streaming answer
equals the batch answer."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.operators.cdc import latest_state
from cdc_streaming_pipeline_spark.sources.event_log import read_event_log
from cdc_streaming_pipeline_spark.streaming.pipeline import (
    CdcStreamingPipeline,
    read_latest_state,
)
from cdc_streaming_pipeline_spark.workload import CdcWorkloadGenerator


def _pipeline(spark, tmp_path, **kw):
    return CdcStreamingPipeline(
        spark,
        source_path=str(tmp_path / "src"),
        sink_path=str(tmp_path / "sink"),
        checkpoint_path=str(tmp_path / "ckpt"),
        dlq_path=str(tmp_path / "dlq"),
        state_path=str(tmp_path / "state"),
        **kw,
    )


def test_streaming_e2e_matches_batch_and_handles_increments(spark, tmp_path):
    gen = CdcWorkloadGenerator(seed=11)
    gen.initial_load(rows_per_table=8)
    gen.run(40)
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=3)
    pipe = _pipeline(spark, tmp_path)

    # ---- micro-batch 1: initial backlog
    pipe.run_once()
    sink = spark.read.parquet(str(tmp_path / "sink"))
    n_batch1 = len(gen.events)
    assert sink.count() == n_batch1
    assert glob.glob(os.path.join(str(tmp_path / "sink"), "year=*/month=*/day=*/hour=*"))

    # ---- micro-batch 2: more events arrive (incl. deletes/updates);
    # checkpoint makes the second run process ONLY the new files
    n_before = len(gen.events)
    gen.run(40)
    new_events = len(gen.events) - n_before
    gen.events = gen.events[n_before:]
    gen.write_json_files(src, n_files=2, offset=10)
    pipe.run_once()
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == n_batch1 + new_events

    # ---- latest-state equals the batch answer over the full log
    batch_log = read_event_log(spark, src)
    expected = latest_state(batch_log, key_cols=["id", "_table"])
    got = read_latest_state(spark, str(tmp_path / "state"))
    exp_keys = {(r.id, r._table) for r in expected.select("id", "_table").collect()}
    got_keys = {(r.id, r._table) for r in got.select("id", "_table").collect()}
    assert got_keys == exp_keys
    # ...and equals the generator's applied state per table
    for table in ("customer", "product", "order", "order_item"):
        applied = set(gen.state[table])
        stream_ids = {
            r.id for r in got.filter(F.col("_table") == table).select("id").collect()
        }
        assert stream_ids == applied, table


def test_late_event_lands_in_event_time_partition(spark, tmp_path):
    gen = CdcWorkloadGenerator(seed=5, late_event_rate=0.0)
    gen.initial_load(rows_per_table=5)
    # hand-craft one late event: id re-update with an event time 2 hours back
    gen.update_random("customer")
    gen.events[-1]["updated_at"] = "2024-01-01T01:30:00"  # arrival is 'now', event time old
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=1)
    pipe = _pipeline(spark, tmp_path)
    pipe.run_once()
    late_part = os.path.join(str(tmp_path / "sink"), "year=2024/month=1/day=1/hour=1")
    assert glob.glob(late_part), "late event must land in its event-time partition"


def test_corrupt_lines_reach_dlq_pipeline_continues(spark, tmp_path):
    gen = CdcWorkloadGenerator(seed=3)
    gen.initial_load(rows_per_table=3)
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=1)
    with open(os.path.join(src, "poison.json"), "w", encoding="utf-8") as fh:
        fh.write("BROKEN {\n")
    pipe = _pipeline(spark, tmp_path)
    pipe.run_once()
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert dlq.count() == 1
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == len(gen.events)


def test_upsert_state_idempotent_on_batch_replay(spark, tmp_path):
    """Checkpoint-replay semantics: re-processing the SAME micro-batch
    (same batch id, same rows — what foreachBatch sees after a crash
    between sink commit and checkpoint commit) must leave the state
    byte-identical: same version dir, same pointer, same rows."""
    gen = CdcWorkloadGenerator(seed=13)
    gen.initial_load(rows_per_table=6)
    gen.run(30)
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=1)
    pipe = _pipeline(spark, tmp_path)
    pipe.run_once()

    state_dir = str(tmp_path / "state")
    pointer = os.path.join(state_dir, "_CURRENT")
    with open(pointer, encoding="utf-8") as fh:
        version_before = fh.read()
    rows_before = sorted(
        map(repr, read_latest_state(spark, state_dir, raw=True).collect())
    )

    # replay batch 0 exactly as foreachBatch would deliver it
    batch_df = read_event_log(spark, src)
    from cdc_streaming_pipeline_spark.operators.cdc import split_corrupt

    good, _ = split_corrupt(batch_df)
    pipe._upsert_state(good, batch_id=0)

    with open(pointer, encoding="utf-8") as fh:
        assert fh.read() == version_before
    rows_after = sorted(
        map(repr, read_latest_state(spark, state_dir, raw=True).collect())
    )
    assert rows_after == rows_before


def test_heartbeat_stream_emits_rows_and_unions_with_events(spark, tmp_path):
    """S6: the rate-source heartbeat is streamable, carries the CDC
    metadata shape, and unions onto a wide event stream."""
    from cdc_streaming_pipeline_spark.streaming.pipeline import heartbeat_stream

    hb = heartbeat_stream(spark, rows_per_second=10)
    assert hb.isStreaming
    out = str(tmp_path / "hb_out")
    ckpt = str(tmp_path / "hb_ckpt")
    q = (
        hb.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 60
    n = 0
    while time.time() < deadline:
        try:
            n = spark.read.parquet(out).count()
        except Exception:  # noqa: BLE001 - sink dir not created yet
            n = 0
        if n > 0:
            break
        time.sleep(1)
    q.stop()
    assert n > 0
    hb_batch = spark.read.parquet(out)
    assert {"updated_at", "_op", "_table", "_lsn"}.issubset(set(hb_batch.columns))
    ops = {r["_op"] for r in hb_batch.select("_op").distinct().collect()}
    assert ops == {"hb"}


def test_streaming_e2e_partitioned_state_backend(spark, tmp_path):
    """Same e2e, state maintained by the partition-pruned bucket merge
    (operators/merge.py) instead of full-snapshot rewrite — the 100 TB
    backend. Final state must equal the batch answer and the generator's
    applied state, across two micro-batches with deletes in play."""
    gen = CdcWorkloadGenerator(seed=23)
    gen.initial_load(rows_per_table=8)
    gen.run(40)
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=3)
    pipe = _pipeline(spark, tmp_path, state_backend="partitioned")

    pipe.run_once()
    n_before = len(gen.events)
    gen.run(40)
    gen.events = gen.events[n_before:]
    gen.write_json_files(src, n_files=2, offset=10)
    pipe.run_once()

    batch_log = read_event_log(spark, src)
    expected = latest_state(batch_log, key_cols=["id", "_table"])
    got = read_latest_state(spark, str(tmp_path / "state"))
    exp_keys = {(r.id, r._table) for r in expected.select("id", "_table").collect()}
    got_keys = {(r.id, r._table) for r in got.select("id", "_table").collect()}
    assert got_keys == exp_keys
    for table in ("customer", "product", "order", "order_item"):
        applied = set(gen.state[table])
        stream_ids = {
            r.id for r in got.filter(F.col("_table") == table).select("id").collect()
        }
        assert stream_ids == applied, table


def test_streaming_rollup_maintenance_matches_batch_and_replay_idempotent(spark, tmp_path):
    """Incremental aggregate maintenance e2e: a 3-micro-batch event
    stream maintained via per-batch partial dirs must equal the one-shot
    batch rollup, and REPLAYING a batch (at-least-once delivery) must not
    change the answer (the partial dir is overwritten, not appended)."""
    from cdc_streaming_pipeline_spark.sources.tables import load_table
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        read_rollup,
        upsert_rollup_partial,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "event_type", "value")
    src = str(tmp_path / "src")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "rollup")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    seen_batches = []

    def body(batch_df, batch_id):
        # capture the batch's rows so the replay below re-delivers EXACTLY
        # what this batch id originally carried
        seen_batches.append((batch_id, batch_df.collect()))
        upsert_rollup_partial(batch_df, state, batch_id)

    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(seen_batches) >= 3  # one per file

    def as_map(df):
        return {
            (r.hour, r.event_type): (r.n_events, r.sum_value) for r in df.collect()
        }

    want = as_map(
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    got = as_map(read_rollup(spark, state))
    assert got == want

    # replay batch 1 (same id, same rows) -> overwrite, answer unchanged
    bid, rows = seen_batches[1]
    upsert_rollup_partial(spark.createDataFrame(rows, ev.schema), state, bid)
    assert as_map(read_rollup(spark, state)) == want


def test_read_rollup_skips_uncommitted_partial_dirs(spark, tmp_path):
    """A crash mid-write leaves a batch_id dir without _SUCCESS; serving it
    would under/over-count until the replay overwrites it, so read_rollup
    must ignore it and serve only committed partials."""
    import os
    import shutil

    from cdc_streaming_pipeline_spark.sources.tables import load_table
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        read_rollup,
        upsert_rollup_partial,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "event_type", "value")
    state = str(tmp_path / "rollup")
    upsert_rollup_partial(ev.filter(F.col("event_id") % 2 == 0), state, 0)
    before = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in read_rollup(spark, state).collect()
    }

    # simulate a crash mid-write of batch 1: data file present, no _SUCCESS
    upsert_rollup_partial(ev.filter(F.col("event_id") % 2 == 1), state, 1)
    os.remove(os.path.join(state, "batch_id=1", "_SUCCESS"))
    after = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in read_rollup(spark, state).collect()
    }
    assert after == before  # uncommitted partial is invisible

    # no committed partials at all -> explicit error, not an empty frame
    shutil.rmtree(state)
    os.makedirs(os.path.join(state, "batch_id=9"))
    try:
        read_rollup(spark, state)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def _latest_state_matches_log(spark, src, state_dir, gen):
    batch_log = read_event_log(spark, src)
    expected = latest_state(batch_log, key_cols=["id", "_table"])
    got = read_latest_state(spark, state_dir)
    exp = {(r.id, r._table) for r in expected.select("id", "_table").collect()}
    assert {(r.id, r._table) for r in got.select("id", "_table").collect()} == exp
    for table in ("customer", "product", "order", "order_item"):
        applied = set(gen.state[table])
        stream_ids = {
            r.id for r in got.filter(F.col("_table") == table).select("id").collect()
        }
        assert stream_ids == applied, table


@pytest.mark.slowsuite
def test_state_upsert_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill the stream AFTER a batch's state upsert but BEFORE its
    checkpoint commit (the at-least-once window), then resume from the
    checkpoint with a FRESH pipeline object (a process restart): the
    crashed batch is replayed, the remaining batches run, and the final
    latest-state equals the batch answer over the whole log AND the
    workload generator's applied state. This is the Connect-offsets ↔
    checkpoint story for the versioned state backend (SURVEY §3.1)."""
    import pytest

    for backend in ("versioned", "partitioned", "scd2"):
        base = tmp_path / backend
        base.mkdir()
        gen = CdcWorkloadGenerator(seed=17)
        gen.initial_load(rows_per_table=6)
        gen.run(60)
        src = str(base / "src")
        gen.write_json_files(src, n_files=4)

        pipe = _pipeline(spark, base, state_backend=backend, max_files_per_trigger=1)
        orig = pipe._process_batch

        def crashing(batch_df, batch_id, _orig=orig):
            _orig(batch_df, batch_id)  # state + sink side effects land...
            if batch_id == 1:
                raise RuntimeError("injected crash before checkpoint commit")

        pipe._process_batch = crashing
        q = pipe.start(available_now=True)
        with pytest.raises(Exception):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()
        assert q.exception() is not None  # died mid-stream, ckpt for batch 1 missing

        # process restart: new pipeline object, same checkpoint — batch 1
        # replays (idempotent upsert), batches 2-3 then run to completion
        pipe2 = _pipeline(spark, base, state_backend=backend, max_files_per_trigger=1)
        pipe2.run_once()
        _latest_state_matches_log(spark, src, str(base / "state"), gen)


def test_streaming_scd2_backend_maintains_full_history(spark, tmp_path):
    """state_backend='scd2': the stream maintains the SCD Type-2 version
    history incrementally (partition-pruned per micro-batch) and the
    final table equals scd2_history over the whole log — intervals,
    closure by deletes, is_current flags and all."""
    from cdc_streaming_pipeline_spark.operators.cdc import scd2_history
    from cdc_streaming_pipeline_spark.operators.merge import read_scd2

    gen = CdcWorkloadGenerator(seed=29)
    gen.initial_load(rows_per_table=6)
    gen.run(60)
    src = str(tmp_path / "src")
    gen.write_json_files(src, n_files=3)

    pipe = _pipeline(spark, tmp_path, state_backend="scd2", max_files_per_trigger=1)
    pipe.run_once()

    from cdc_streaming_pipeline_spark.operators.cdc import split_corrupt

    full, _ = split_corrupt(read_event_log(spark, src))  # pipeline drops the DLQ col
    want = scd2_history(full, key_cols=["id", "_table"])
    cols = sorted(c for c in want.columns)
    as_set = lambda df: sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())
    assert as_set(read_scd2(spark, str(tmp_path / "state" / "scd2"))) == as_set(want)


@pytest.mark.slowsuite
def test_stream_merge_sink_maintenance_bounds_files_over_long_run(spark, tmp_path):
    """r10 verdict #2: bucketed_merge_stream_sink composed merges forever
    without folding salted files back or reclaiming dead ones — an
    infinite stream grew file counts until an operator intervened. The
    sink now runs compact_buckets after every merge (buckets exceeding
    max_files_per_bucket fold to one file) and an opt-in age-guarded
    vacuum every K batches. Drive 51 micro-batches through ONE sink
    (maxFilesPerTrigger=1) with salting forced on, then assert: live
    per-bucket file count is bounded, the final state equals batch
    latest-state semantics, on-disk debris was vacuumed, and retained
    time travel still works."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        resolve_snapshot_state,
    )
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint, status string, _op string, _lsn string, _deleted string"
    MAXF = 2

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "status", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            bucketed_merge_stream_sink(
                stream,
                table_path,
                ckpt,
                key_cols=["id"],
                n_buckets=4,
                max_files_per_bucket=MAXF,
                vacuum_every=10,
                vacuum_retain_versions=5,
                vacuum_min_age_seconds=0.0,  # single writer: no staging race
                target_file_bytes=512,  # force salted staging on tiny data
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    # bootstrap + 50 update waves over 8 hot keys (few-bucket churn)
    expect = {i: f"s{i}" for i in range(24)}
    put("w000.json", [(i, f"s{i}", "r", "0001", None) for i in range(24)])
    for w in range(1, 51):
        k = w % 8
        expect[k] = f"w{w}"
        put(f"w{w:03d}.json", [(k, f"w{w}", "u", f"{w + 1:04d}", None)])
    run()

    t = BucketedTxLogTable(spark, table_path, key_cols=["id"], n_buckets=4)
    got = {r["id"]: r["status"] for r in t.read_state().collect()}
    assert got == expect  # stream == batch latest-state oracle

    # (1) live per-bucket file count bounded by the policy
    snap, bmap, _ = resolve_snapshot_state(t, t.latest_version())
    per_bucket: dict[int, int] = {}
    for f in snap:
        per_bucket[bmap[f]] = per_bucket.get(bmap[f], 0) + 1
    assert per_bucket and max(per_bucket.values()) <= MAXF, per_bucket

    # (2) maintenance actually fired: some commits are fold-backs
    # (adds strictly fewer files than removes, no txn tag)
    folds = [
        e
        for e in t.history()
        if e.get("mode") == "merge"
        and "txn" not in e
        and len(e.get("adds", [])) < len(e.get("removes", []))
    ]
    assert folds, "no compaction commit ever landed"

    # (3) vacuum reclaimed dead files: total parquet on disk is a small
    # multiple of the live set, not ~51 batches of debris
    on_disk = glob.glob(os.path.join(table_path, "data", "stage-*", "*", "*.parquet"))
    on_disk += glob.glob(os.path.join(table_path, "data", "stage-*", "*.parquet"))
    assert len(on_disk) < 6 * len(snap), (len(on_disk), len(snap))

    # (4) retained near-past time travel still readable post-vacuum
    assert t.read_state(t.latest_version() - 1).count() >= len(expect) - 1

    # (5) replay safety intact: re-running the same sink over the same
    # checkpoint lands nothing new
    pre_v = t.latest_version()
    run()
    assert t.latest_version() == pre_v
    assert {r["id"]: r["status"] for r in t.read_state().collect()} == expect


@pytest.mark.slowsuite
def test_stream_sink_absorbs_dvs_and_maintains_blooms_over_long_run(spark, tmp_path):
    """r12 verdict item 5: a stream-written table must get the same
    point-lookup/delete story as a batch one. Drive 52+ micro-batches
    through one sink with ``bloom_cols`` and the DV-debt fold enabled,
    interleaving merge-on-read ``delete_where`` calls between stream
    segments. Assert: state stays model-exact (the DV semantic — delete
    erases history, later events re-create), live per-bucket files AND
    live deletion-vector debt stay bounded (folds absorb vectors,
    vacuum reclaims sidecars), and bloom point lookups prune and stay
    exact on the stream-written files."""
    import json as _json

    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        resolve_file_dvs,
        resolve_snapshot_state,
    )
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint, status string, v double, _op string, _lsn string, _deleted string"

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "status", "v", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            bucketed_merge_stream_sink(
                stream,
                table_path,
                ckpt,
                key_cols=["id"],
                n_buckets=4,
                max_files_per_bucket=2,
                vacuum_every=10,
                vacuum_retain_versions=5,
                vacuum_min_age_seconds=0.0,
                stats_cols=["v"],
                bloom_cols=["id"],
                max_dv_fraction=0.25,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    model = {i: (f"s{i}", float(i)) for i in range(24)}
    put("w0000.json", [(i, f"s{i}", float(i), "r", "0001", None) for i in range(24)])
    wave = 0
    table = None
    for seg in range(5):
        for _ in range(10):
            wave += 1
            k = wave % 8
            model[k] = (f"w{wave}", float(100 * seg + wave))
            put(
                f"w{wave:04d}.json",
                [(k, f"w{wave}", float(100 * seg + wave), "u", f"{wave + 1:04d}", None)],
            )
        run()
        table = BucketedTxLogTable(spark, table_path)
        # interleaved merge-on-read delete: a band of current v values
        lo = 100.0 * seg if seg else 16.0  # seg 0 wipes untouched keys 16-23
        hi = lo + (7.0 if seg == 0 else 4.0)
        table.delete_where(F.col("v").between(lo, hi))
        for key in [k for k, (_, vv) in model.items() if lo <= vv <= hi]:
            del model[key]
    # two more waves so the post-delete DV fold actually runs
    for _ in range(2):
        wave += 1
        k = wave % 8
        model[k] = (f"w{wave}", float(999 + wave))
        put(f"w{wave:04d}.json", [(k, f"w{wave}", float(999 + wave), "u", f"{wave + 1:04d}", None)])
    run()

    t = BucketedTxLogTable(spark, table_path)
    got = {r["id"]: (r["status"], r["v"]) for r in t.read_state().collect()}
    assert got == model

    snap, bmap, _ = resolve_snapshot_state(t)
    per_bucket: dict[int, int] = {}
    for f in snap:
        per_bucket[bmap[f]] = per_bucket.get(bmap[f], 0) + 1
    assert max(per_bucket.values()) <= 2, per_bucket

    # live DV debt bounded: the folds absorbed every over-threshold
    # vector; a straggler from the final batches and a file sitting
    # exactly AT the fold threshold may legitimately remain
    live_dvs = [f for f in snap if f in resolve_file_dvs(t)]
    assert len(live_dvs) <= 3, live_dvs
    # on-disk sidecars bounded by retention, not by delete count
    on_disk = glob.glob(os.path.join(table_path, "data", "_dv", "*"))
    assert len(on_disk) <= 40, len(on_disk)

    # bloom point lookups on the stream-written table: exact + pruned
    present = sorted(model)[0]
    df, fr, ft = t.read_state_where_in("id", [present])
    assert {r["id"] for r in df.collect()} == {present} and fr < ft
    df, fr, ft = t.read_state_where_in("id", [424242])
    assert df.count() == 0


def test_stream_merge_sink_crash_between_merge_and_maintenance(spark, tmp_path):
    """The maintenance policy must not widen the exactly-once window: a
    crash AFTER the merge commit but BEFORE compact_buckets leaves a
    multi-file bucket and an un-advanced streaming checkpoint. On
    restart the replayed batch no-ops via its txn tag (no duplicate
    rows) and the SAME foreachBatch's maintenance pass folds the
    bucket — the stream self-heals without operator action."""
    import json as _json

    import cdc_streaming_pipeline_spark.sources.txlog as txmod
    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        resolve_snapshot_state,
    )
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint, status string, _op string, _lsn string, _deleted string"

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "status", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        return (
            bucketed_merge_stream_sink(
                stream, table_path, ckpt, key_cols=["id"], n_buckets=4,
                max_files_per_bucket=1, target_file_bytes=512,
            )
            .trigger(availableNow=True)
            .start()
        )

    put("a.json", [(i, f"s{i}", "r", "0001", None) for i in range(30)])
    q = run()
    q.awaitTermination(120)

    # crash injection: compact_buckets dies AFTER the merge committed
    class Crash(RuntimeError):
        pass

    orig = BucketedTxLogTable.compact_buckets
    state = {"n": 0}

    def crashing(self, *a, **kw):
        state["n"] += 1
        raise Crash("died between merge and maintenance")

    put("b.json", [(2, "UPD", "u", "0002", None)])
    BucketedTxLogTable.compact_buckets = crashing
    try:
        q = run()
        q.awaitTermination(120)
        raise AssertionError("query should have failed")
    except Exception:
        pass
    finally:
        BucketedTxLogTable.compact_buckets = orig
    assert state["n"] == 1

    t = BucketedTxLogTable(spark, table_path, key_cols=["id"], n_buckets=4)
    v_after_crash = t.latest_version()
    merged_entry = t._read_entry(v_after_crash)
    assert merged_entry.get("txn")  # the merge itself landed

    # restart: replayed batch no-ops, maintenance folds the bucket
    put("c.json", [(3, "NEXT", "u", "0003", None)])
    q = run()
    q.awaitTermination(120)
    got = {r["id"]: r["status"] for r in t.read_state().collect()}
    expect = {i: f"s{i}" for i in range(30)}
    expect[2], expect[3] = "UPD", "NEXT"
    assert got == expect  # exactly once: no duplicates, nothing lost
    snap, bmap, _ = resolve_snapshot_state(t, t.latest_version())
    per_bucket: dict[int, int] = {}
    for f in snap:
        per_bucket[bmap[f]] = per_bucket.get(bmap[f], 0) + 1
    assert max(per_bucket.values()) <= 1  # maintenance caught up


def test_stream_survives_external_rebucket_and_conflicts(spark, tmp_path):
    """Operational reality for a forever-stream: maintenance happens
    from OUTSIDE the streaming process. An external rebucket between
    micro-batch runs must not kill the sink (the recorded layout wins
    over the sink's n_buckets parameter), and an external same-bucket
    writer racing a micro-batch is absorbed by the sink's conflict
    retry (merge re-derives from the new base; the txn tag keeps the
    batch exactly-once)."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint, status string, _op string, _lsn string, _deleted string"

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "status", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            bucketed_merge_stream_sink(
                stream, table_path, ckpt, key_cols=["id"], n_buckets=4
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    put("a.json", [(i, f"s{i}", "r", "0001", None) for i in range(30)])
    run()
    t = BucketedTxLogTable(spark, table_path)
    assert t.n_buckets == 4

    # external maintenance window: rebucket 4 -> 8
    BucketedTxLogTable(spark, table_path).rebucket(8)

    # the stream keeps going under the recorded layout
    put("b.json", [(2, "UPD", "u", "0002", None)])
    run()
    t = BucketedTxLogTable(spark, table_path)
    assert t.n_buckets == 8
    got = {r["id"]: r["status"] for r in t.read_state().collect()}
    expect = {i: f"s{i}" for i in range(30)}
    expect[2] = "UPD"
    assert got == expect

    # external writer lands a conflicting same-bucket commit between the
    # sink's resolve and commit: simulate by pre-committing right before
    # the next run — the retried merge re-derives and both survive
    external = BucketedTxLogTable(spark, table_path)
    external.merge_cdc_batch(
        spark.createDataFrame([(3, "EXT", "u", "0003", None)], schema)
    )
    put("c.json", [(3, "STREAM", "u", "0004", None)])
    run()
    got = {r["id"]: r["status"] for r in t.read_state().collect()}
    expect[3] = "STREAM"  # higher LSN wins over the external write
    assert got == expect


def test_stream_merge_sink_lands_skipping_stats_and_clusters(spark, tmp_path):
    """stats_cols/cluster_cols ride the sink: every landed file carries
    [min, max] skipping stats, the maintenance fold range-clusters the
    buckets it compacts, and read_state_where on the live table prunes
    while staying exact against the latest-state oracle."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        resolve_file_stats,
        resolve_snapshot_state,
    )
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    schema = "id bigint, amount double, _op string, _lsn string, _deleted string"

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "amount", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    expect = {i: float(i) for i in range(400)}
    put("w000.json", [(i, float(i), "r", "0001", None) for i in range(400)])
    for w in range(1, 6):  # hot updates land values in a far range
        k = w
        expect[k] = 100000.0 + w
        put(f"w{w:03d}.json", [(k, 100000.0 + w, "u", f"{w + 1:04d}", None)])

    q = (
        bucketed_merge_stream_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src)),
            table_path,
            str(tmp_path / "ckpt"),
            key_cols=["id"],
            n_buckets=4,
            max_files_per_bucket=1,  # fold (and re-cluster) every batch
            stats_cols=["amount"],
            cluster_cols=["amount"],
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    t = BucketedTxLogTable(spark, table_path, stats_cols=["amount"])
    got = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert got == expect

    v = t.latest_version()
    snap, _, _ = resolve_snapshot_state(t, v)
    stats = resolve_file_stats(t, v)
    assert all(f in stats and "amount" in stats[f] for f in snap)

    # the hot range reads a strict subset of files and is exact
    df, read, total = t.read_state_where("amount", 100000.0, 100010.0)
    assert read < total
    assert {r["id"]: r["amount"] for r in df.collect()} == {
        w: 100000.0 + w for w in range(1, 6)
    }


def test_psi_drift_monitor_idempotent_replay_and_empty_batch(spark, tmp_path):
    """psi_drift_monitor_sink: wave-0 self-PSI is exactly 0, drift grows
    with the injected shift, an all-filtered (empty) micro-batch emits
    nothing, and a full REPLAY (fresh checkpoint, same batch ids) lands
    zero duplicate rows — each batch overwrites its deterministic
    batch=<id> partition."""
    import os
    import shutil

    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        psi_drift_monitor_sink,
    )

    src = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    waves = {0: 0.0, 1: 100.0, 2: 300.0}
    for w, shift in waves.items():
        rows = [(w, float(v % 500) + shift) for v in range(1000)]
        spark.createDataFrame(rows, "wave long, value double").coalesce(
            1
        ).write.mode("append").parquet(str(src / f"w{w}"))
    # an EMPTY wave file: schema-only parquet, zero rows
    spark.createDataFrame([], "wave long, value double").coalesce(1).write.mode(
        "append"
    ).parquet(str(src / "w3"))
    ref = {b: 100 for b in range(5)}  # uniform over [0, 250): bins 0-4

    def run(ck):
        q = (
            psi_drift_monitor_sink(
                spark.readStream.schema("wave long, value double")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "w*")),
                out,
                ck,
                value_col="value",
                tag_col="wave",
                ref_counts=ref,
                bin_width=50.0,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run(ckpt)
    got = {
        r["tag"]: r["psi"] for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {0, 1, 2}  # empty batch emitted nothing
    # uniform [0,500) vs uniform-[0,250) reference: drift > 0 everywhere,
    # and the +100/+300 shifts push mass further off-reference each wave
    assert got[0] < got[1] < got[2]

    # full replay with a FRESH checkpoint: same batch ids, same rows, no dups
    shutil.rmtree(ckpt)
    run(str(tmp_path / "ckpt2"))
    again = spark.read.parquet(out).collect()
    assert len(again) == 3
    assert {r["tag"]: r["psi"] for r in again} == got


def test_psi_monitor_clamps_negative_values_into_bin_zero(spark, tmp_path):
    """r11 ADVICE: values below 0 used to land in NEGATIVE bins that
    were counted in n yet contributed no PSI term — silently diverging
    from the documented n_bins-bucket definition. The clamp puts them in
    bin 0: n_events counts every row and the PSI over a mostly-negative
    batch reflects the mass piled into bin 0."""
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        psi_drift_monitor_sink,
    )

    src = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # wave 0: uniform positives (the reference shape); wave 1: all negative
    spark.createDataFrame(
        [(0, float(v % 500)) for v in range(1000)], "wave long, value double"
    ).coalesce(1).write.mode("append").parquet(str(src / "w0"))
    spark.createDataFrame(
        [(1, -float(v % 300) - 1.0) for v in range(1000)], "wave long, value double"
    ).coalesce(1).write.mode("append").parquet(str(src / "w1"))
    ref = {b: 100 for b in range(10)}  # uniform reference over all bins
    q = (
        psi_drift_monitor_sink(
            spark.readStream.schema("wave long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "w*")),
            out,
            ckpt,
            value_col="value",
            tag_col="wave",
            ref_counts=ref,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["tag"]: (r["n_events"], r["psi"]) for r in spark.read.parquet(out).collect()}
    assert got[0][0] == 1000 and got[1][0] == 1000  # every row counted
    # all-negative wave = all mass in bin 0 vs uniform reference: large,
    # FINITE psi, strictly above the in-distribution wave
    assert got[1][1] > got[0][1] and got[1][1] > 1.0


def _group_jobs(spark, group: str) -> list[int]:
    """Spark jobs tagged with ``group``, once the listener bus has
    delivered every event the status store counts them from."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_stream_merge_sink_steady_batch_job_budget(spark, tmp_path):
    """A steady micro-batch of the bucketed merge sink launches at most 4
    Spark jobs: the touched-bucket probe (2), then the one staging
    exchange and the write (2). Reading the touched buckets with the
    recorded schema and computing the small write's skipping facts on
    the driver launch none — and neither does building read_state()."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    schema = "id bigint, amount double, _op string, _lsn string, _deleted string"
    names = ("id", "amount", "_op", "_lsn", "_deleted")

    def run_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(dict(zip(names, r))) + "\n")
        q = (
            bucketed_merge_stream_sink(
                spark.readStream.schema(schema).json(str(src)),
                table_path,
                str(tmp_path / "ckpt"),
                key_cols=["id"],
                n_buckets=4,
                stats_cols=["id"],
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        assert q.exception() is None
        return _group_jobs(spark, str(q.runId))

    run_batch("w000.json", [(i, float(i), "r", "0001", None) for i in range(40)])
    # each start runs under a fresh runId: its job group is this batch alone
    jobs = run_batch("w001.json", [(i, -1.0, "u", "0002", None) for i in range(5)])
    assert 0 < len(jobs) <= 4, jobs

    t = BucketedTxLogTable(spark, table_path)
    spark.sparkContext.setJobGroup("read-state-build", "build read_state")
    try:
        df = t.read_state()
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert _group_jobs(spark, "read-state-build") == []
    got = {r["id"]: r["amount"] for r in df.collect()}
    assert got == {i: (-1.0 if i < 5 else float(i)) for i in range(40)}
