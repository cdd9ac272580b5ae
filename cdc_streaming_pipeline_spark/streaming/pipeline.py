"""The CDC streaming pipeline: event-log stream → transforms → sinks.

Replaces the reference's Debezium + Kafka Connect HDFS-sink composition
(reference: airflow/dags/cdc_pipeline_dag.py:114-221) with ONE Structured
Streaming query:

    readStream (declared schema, PERMISSIVE)            # S1/S4/S5 adapter
      → split_corrupt                                   # P5 DLQ
      → with_time_partitions (record/event timestamp)   # P1 (late-safe)
      → partitioned append sink (parquet or gzip JSON)  # P2-P4
      + latest-state upsert per micro-batch             # implied-op I1

- trigger(processingTime=60s) mirrors rotate.interval.ms=60000; tests use
  availableNow for determinism.
- checkpointLocation gives exactly-once sink semantics per micro-batch —
  the Spark equivalent of Connect's committed offsets.
- The file source here reads JSON event-log files; a Kafka source is the
  same query with ``readStream.format("kafka")`` + from_json — the
  transforms are source-agnostic DataFrame expressions (operators/cdc.py).

Latest-state storage: per-batch versioned parquet snapshots plus a
_CURRENT pointer file (poor-man's snapshot isolation, idempotent on batch
replay because the version dir is keyed by batch id). On a production
cluster this upsert is a Delta/Iceberg MERGE; the micro-batch logic —
union prior state with the batch, keep max-LSN row per key, RETAIN delete
markers so late lower-LSN events cannot resurrect deleted keys — is
identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_streaming_pipeline_spark.operators.cdc import (
    latest_state,
    mark_deleted,
    split_corrupt,
    with_time_partitions,
)
from cdc_streaming_pipeline_spark.schemas import CORRUPT_COL, LSN_COL
from cdc_streaming_pipeline_spark.sources.event_log import read_event_log, write_event_log

_POINTER = "_CURRENT"


class CdcStreamingPipeline:
    """File-source CDC stream → partitioned sink + DLQ + latest-state."""

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        sink_path: str,
        checkpoint_path: str,
        dlq_path: str | None = None,
        state_path: str | None = None,
        entity: str | None = None,
        key_cols: list[str] | None = None,
        ts_col: str = "updated_at",
        sink_format: str = "parquet",
        trigger_seconds: int = 60,
        name: str = "cdc_pipeline",
        state_backend: str = "versioned",
        max_files_per_trigger: int | None = None,
    ) -> None:
        self.spark = spark
        self.source_path = source_path
        self.sink_path = sink_path
        self.checkpoint_path = checkpoint_path
        self.dlq_path = dlq_path
        self.state_path = state_path
        self.entity = entity
        self.key_cols = key_cols or ["id", "_table"]
        self.ts_col = ts_col
        self.sink_format = sink_format
        self.trigger_seconds = trigger_seconds
        self.name = name
        if state_backend not in ("versioned", "partitioned", "scd2"):
            raise ValueError(f"unknown state_backend: {state_backend!r}")
        self.state_backend = state_backend
        # bound micro-batch size (and let availableNow backfills split into
        # many batches instead of one giant catch-up batch)
        self.max_files_per_trigger = max_files_per_trigger

    # ------------------------------------------------------------- sink --
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        good, bad = split_corrupt(batch_df, CORRUPT_COL)
        write_event_log(good, self.sink_path, fmt=self.sink_format, ts_col=self.ts_col)
        if self.dlq_path is not None:
            (
                bad.select(CORRUPT_COL)
                .write.mode("append")
                .format("json")
                .save(self.dlq_path)
            )
        if self.state_path is not None:
            self._upsert_state(good, batch_id)

    def _upsert_state(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.state_backend == "scd2":
            # Maintain the full VERSION HISTORY incrementally (SCD Type 2)
            # instead of just the latest row — the warehouse-dimension
            # backend. Partition-pruned per batch like "partitioned", and
            # replay-idempotent (merge dedupes on key+lsn), so the same
            # at-least-once checkpoint story applies.
            from cdc_streaming_pipeline_spark.operators.merge import (
                init_scd2,
                merge_scd2_batch,
            )

            snap = os.path.join(self.state_path, "scd2")
            if not os.path.exists(snap):
                init_scd2(batch_df, snap, key_cols=self.key_cols, order_col=LSN_COL)
            else:
                merge_scd2_batch(
                    self.spark, snap, batch_df, key_cols=self.key_cols, order_col=LSN_COL
                )
            return
        if self.state_backend == "partitioned":
            # The 100 TB backend: partition-pruned bucket merge
            # (operators/merge.py) — reads/rewrites only the buckets this
            # batch touches instead of rewriting the whole state. Replays
            # are idempotent (latest-row-wins over identical events).
            from cdc_streaming_pipeline_spark.operators.merge import (
                init_snapshot,
                merge_cdc_batch,
            )

            snap = os.path.join(self.state_path, "partitioned")
            if not os.path.exists(snap):
                init_snapshot(batch_df, snap, key_cols=self.key_cols, order_col=LSN_COL)
            else:
                merge_cdc_batch(
                    self.spark, snap, batch_df, key_cols=self.key_cols, order_col=LSN_COL
                )
            return
        prev = read_latest_state(self.spark, self.state_path, raw=True)
        merged = (
            prev.unionByName(batch_df, allowMissingColumns=True)
            if prev is not None
            else batch_df
        )
        new_state = latest_state(
            merged, key_cols=self.key_cols, order_col=LSN_COL, drop_deleted=False
        )
        version_dir = os.path.join(self.state_path, f"v{batch_id}")
        new_state.write.mode("overwrite").parquet(version_dir)
        tmp = os.path.join(self.state_path, f".{_POINTER}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(version_dir)
        os.replace(tmp, os.path.join(self.state_path, _POINTER))

    # ------------------------------------------------------------ start --
    def start(self, available_now: bool = False) -> StreamingQuery:
        opts = (
            {"maxFilesPerTrigger": str(self.max_files_per_trigger)}
            if self.max_files_per_trigger
            else None
        )
        stream = read_event_log(
            self.spark, self.source_path, entity=self.entity, streaming=True,
            options=opts,
        )
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .queryName(self.name)
            .option("checkpointLocation", self.checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        if self.state_path is not None:
            os.makedirs(self.state_path, exist_ok=True)
        return writer.start()

    def run_once(self, timeout_seconds: int = 120) -> None:
        """Process everything currently in the source, then stop
        (deterministic test/backfill mode)."""
        query = self.start(available_now=True)
        query.awaitTermination(timeout_seconds)
        if query.isActive:
            query.stop()
            raise TimeoutError(f"{self.name}: availableNow batch exceeded {timeout_seconds}s")
        if query.exception() is not None:
            raise query.exception()


def read_latest_state(
    spark: SparkSession, state_path: str, raw: bool = False
) -> DataFrame | None:
    """Read the current latest-state snapshot.

    raw=True keeps delete-marker rows (the upsert needs them so late,
    lower-LSN events cannot resurrect a deleted key); the default filters
    them out — the queryable current-table-contents view.
    """
    partitioned = os.path.join(state_path, "partitioned")
    if os.path.exists(partitioned):
        from cdc_streaming_pipeline_spark.operators.merge import read_snapshot

        return read_snapshot(spark, partitioned, raw=raw)
    scd2 = os.path.join(state_path, "scd2")
    if os.path.exists(scd2):
        # the SCD2 backend's latest-state view: currently-open versions
        # (raw=True returns the full history incl. delete markers)
        from cdc_streaming_pipeline_spark.operators.merge import read_scd2

        hist = read_scd2(spark, scd2, raw=raw)
        return hist if raw else hist.filter(F.col("is_current"))
    pointer = os.path.join(state_path, _POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer, encoding="utf-8") as fh:
        version_dir = fh.read().strip()
    df = spark.read.parquet(version_dir)
    if raw:
        return df
    return mark_deleted(df).filter(~F.col("_is_deleted")).drop("_is_deleted")


def stream_static_enrich(
    stream_df: DataFrame, static_df: DataFrame, on, how: str = "left"
) -> DataFrame:
    """I5 — stream-static join: enrich streaming CDC events with a static
    dimension (the generator's FK pattern — orders reference live customer
    rows). Spark re-plans the static side per micro-batch (picking up new
    files under its path) and broadcasts it when small; no state, no
    watermark needed — only stream-stream joins carry state."""
    return stream_df.join(static_df, on, how)


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str = "updated_at",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming event-time windowed aggregate with late-data bound —
    the watermark caps state; events later than it are dropped from the
    aggregate (the partitioned sink still lands them in their event-time
    partition, which is the reference's late-data story)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("_table"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "_table", "n_events")
    )


def session_windows(
    stream_df: DataFrame,
    key_col: str = "_table",
    ts_col: str = "updated_at",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time SESSION windows per key: a session extends while
    consecutive events arrive within ``gap`` of each other and closes at
    the watermark — Spark merges overlapping per-event windows in state,
    so sessions of any length cost state proportional to OPEN sessions
    only. The batch twin of this semantics is plans/events.user_sessions
    (lag + cumulative-sum); this is the streaming-native form."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str = "updated_at",
    right_ts: str = "updated_at",
    watermark: str = "2 hours",
    interval: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with event-time bounds — e.g. the order
    stream joined to its order_item stream (two demuxed CDC topics).

    Both sides are watermarked and the join carries a time-interval
    condition (|right_ts - left_ts| ≤ interval), which is what lets Spark
    EVICT state: a buffered row can only match rows inside its interval,
    so once the other side's watermark passes it, it is dropped. Without
    the interval the state grows without bound — the difference between a
    demo and something that survives a month of 100 TB/day.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    bound = (
        F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {interval}")
    ) & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {interval}"))
    return lw.join(rw, on & bound, how)


def dedup_within_watermark(
    stream_df: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "updated_at",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup bounded by the watermark: at-least-once
    sources (Kafka redeliveries, file re-lists) collapse to exactly-once
    rows as long as duplicates arrive within the watermark horizon —
    that bound is what keeps the dedup state finite at 100 TB/day.
    Keys default to the CDC identity (table, id, lsn)."""
    keys = key_cols or ["_table", "id", LSN_COL]
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def heartbeat_stream(
    spark, rows_per_second: int = 1, source_name: str = "heartbeat"
) -> DataFrame:
    """S6 — heartbeat source on Spark's rate source.

    The reference emits 5s heartbeats so Debezium's offsets advance on
    idle tables (cdc_pipeline_dag.py:141 heartbeat.interval.ms). Spark
    advances watermarks per trigger, so nothing NEEDS a heartbeat for
    progress — what remains useful is a liveness beacon: union this onto
    an event stream and a downstream windowed count emits a row every
    window even when the real source is silent, which is what the
    reference's monitor greps for. Columns mirror the wide-event shape
    closely enough to unionByName(allowMissingColumns=True)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("updated_at"),
            F.lit("hb").alias("_op"),
            F.lit(source_name).alias("_table"),
            F.format_string("%020d", F.col("value")).alias(LSN_COL),
        )
    )


# ----------------------------------------------------- rollup maintenance --
def upsert_rollup_partial(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> None:
    """foreachBatch body for INCREMENTAL AGGREGATE maintenance (the
    streaming twin of plans/events.py:incremental_hourly_rollup).

    Additive aggregates are not replay-idempotent if merged in place (a
    redelivered batch would double-count), so the state layout is one
    partial-aggregate directory PER BATCH ID, overwritten on replay —
    exactly-once by construction on top of at-least-once delivery, the
    same trick the versioned latest-state backend uses. Partials hold
    exact-decimal sums (functions/precision.py rationale) so merge order
    can never shift the result."""
    partial = batch_df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("hour"), *group_cols
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("sum_partial"),
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch_id={batch_id}")
    )


def read_rollup(
    spark: SparkSession, state_dir: str, group_cols: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Serve the maintained rollup: merge all per-batch partials (counts
    and decimal sums add associatively). Compaction = rewriting the merged
    frame as a single partial; the read is identical either way.

    Only COMMITTED partials are served: a crash mid-``upsert_rollup_partial``
    leaves a batch_id dir without its ``_SUCCESS`` marker, and reading it
    would under/over-count until the stream replays the batch — so partial
    dirs lacking the marker are skipped (they are exactly the ones the
    replay will overwrite)."""
    committed = [
        os.path.join(state_dir, d)
        for d in sorted(os.listdir(state_dir))
        if d.startswith("batch_id=")
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    if not committed:
        raise FileNotFoundError(f"no committed rollup partials under {state_dir}")
    partials = spark.read.parquet(*committed)
    return partials.groupBy("hour", *group_cols).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_partial"), 2).cast("double").alias("sum_value"),
    )


def txlog_stream_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_path: str,
    writer_id: str = "txlog_sink",
):
    """Exactly-once streaming landing into a TxLogTable
    (sources/txlog.py): a ``foreachBatch`` writer that commits each
    micro-batch as ONE atomic log version tagged with
    (writer_id, batch_id).

    ``foreachBatch`` alone is at-least-once — after a crash between the
    batch write and the checkpoint advance, Structured Streaming
    REPLAYS the last batch, and a plain parquet append would duplicate
    it. The txn tag closes that window: the replayed commit finds its
    (writer_id, batch_id) already in the log and becomes a no-op, so
    readers see each batch exactly once — and never see a batch
    half-landed, because the log entry (not the file write) is the
    commit point.

    Returns the DataStreamWriter (caller picks trigger and starts)."""
    from cdc_streaming_pipeline_spark.sources.txlog import TxLogTable

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        table = TxLogTable(batch_df.sparkSession, table_path)
        table.commit(batch_df, mode="append", txn=(writer_id, int(batch_id)))

    return (
        stream_df.writeStream.foreachBatch(_land)
        .queryName(writer_id)
        .option("checkpointLocation", checkpoint_path)
    )


def bucketed_merge_stream_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_cols: list[str],
    n_buckets: int = 64,
    order_col: str = "_lsn",
    writer_id: str = "bucketed_merge_sink",
    max_files_per_bucket: int | None = 8,
    vacuum_every: int | None = None,
    vacuum_retain_versions: int = 10,
    vacuum_min_age_seconds: float = 3600.0,
    target_file_bytes: int = 8 << 20,
    conflict_retries: int = 5,
    stats_cols: list[str] | None = None,
    cluster_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    max_dv_fraction: float | None = 0.3,
    analyze_every: int | None = None,
    merge_mode: str = "rewrite",
):
    """Continuous CDC → queryable current state, exactly once — the
    reference's actual end-to-end shape (reference:
    airflow/dags/cdc_pipeline_dag.py lands the Debezium stream into a
    Hive-queryable table) composed onto the engine's best storage layer:
    every micro-batch MERGES into a ``BucketedTxLogTable`` via
    ``merge_cdc_batch``, so each batch

    - rewrites only its touched buckets (cost ∝ batch's bucket spread,
      never table size — the property a per-batch full-rewrite upsert
      lacks at CDC cadence),
    - commits as ONE atomic log version tagged (writer_id, batch_id):
      a micro-batch replayed after a crash between the merge commit and
      the streaming checkpoint advance finds its tag in the resolved
      txn state and NO-OPS — exactly-once, including the bootstrap
      batch (``init_from_events`` carries the same tag),
    - keeps merge metadata cost O(commits-since-checkpoint): the sink
      inherits the table's auto-checkpoint policy, which matters
      precisely here, where commits arrive at stream cadence forever,
    - pays a FIXED job cost that small batches are bound by, so it is
      kept to 4 Spark jobs per steady batch: the touched-bucket probe
      (2) and one exchange plus the write (2) — the latest-row window
      shares the staging exchange, the touched buckets are read with
      the schema the log records (no footer-merge job), and a small
      write's skipping facts are computed on the driver from the files
      it just wrote (no aggregate jobs; large writes, bloom columns and
      stats columns other than integral/string keep the Spark plans).

    ``stream_df`` must be CDC-shaped (key_cols + ``_op``/``order_col``/
    ``_deleted``). Readers query ``BucketedTxLogTable.read_state()`` —
    always a complete committed snapshot, never a half-landed batch.

    MAINTENANCE rides the same foreachBatch (r10 verdict #2: a stream
    that runs forever must not need an operator to intervene): every
    salted merge adds up to salt_n files to its touched buckets, so
    after each merge any bucket that grew past ``max_files_per_bucket``
    is folded back to one file by ``compact_buckets`` — the check is
    the already-bounded snapshot resolution, the fold costs only the
    overgrown buckets, and read_state latency stays flat over an
    unbounded run. ``vacuum_every=K`` additionally reclaims dead files
    every K batches (age-guarded — ``vacuum_min_age_seconds`` protects
    concurrently staged files, so keep it well above a batch interval).
    Maintenance commits are untagged: a replayed batch no-ops its merge
    via the txn tag and re-running compaction/vacuum is harmless by
    construction (both are logical no-ops). Set
    ``max_files_per_bucket=None``/``vacuum_every=None`` to opt out.

    ``stats_cols`` makes every landed file carry [min, max] skipping
    stats so dashboards use ``read_state_where`` at proportional I/O;
    ``cluster_cols`` additionally range-clusters the buckets the
    maintenance pass folds (the OPTIMIZE ZORDER cadence riding the
    compaction that already runs — hot buckets degrade per merge and
    re-cluster on their next fold).

    The STORAGE LAYER rides along (r12 verdict item 5: a stream-written
    table must get the same point-lookup/delete story as a batch one):
    ``bloom_cols`` gives every landed AND every compacted file a bloom
    sidecar; ``max_dv_fraction`` bounds live deletion-vector debt — when
    interleaved ``delete_where``/``update_where`` calls push a live
    file's deleted fraction past the threshold, its bucket is folded on
    the next batch (compaction reads DV-applied rows, so the rewrite
    absorbs the vectors and vacuum reclaims the sidecars; files whose
    row count the log does not record fold on ANY vector — conservative,
    and still bounded because folding clears them). ``analyze_every=K``
    backfills stats/bloom facts every K batches for files landed by
    stats-less writers (requires ``stats_cols``). ``merge_mode="mor"``
    lands each batch with ``merge_cdc_batch_mor`` — deletion-vector
    the stored images of the batch's keys and append their winners,
    O(batch) bytes written instead of O(touched buckets); the
    compaction policy and the DV-debt fold are what make sustained MoR
    ingest bounded, so pair it with both. Returns the
    DataStreamWriter (caller picks trigger and starts)."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        vacuum,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from cdc_streaming_pipeline_spark.sources.txlog import (
            ConcurrentWriteError,
            resolve_table_meta,
        )

        # n_buckets follows the LOG once the table exists (an external
        # rebucket must not kill the stream — the recorded layout wins);
        # the sink's parameter applies only at creation / legacy logs.
        table = BucketedTxLogTable(
            batch_df.sparkSession,
            table_path,
            key_cols=key_cols,
            n_buckets=None,
            order_col=order_col,
            target_file_bytes=target_file_bytes,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
        )
        if resolve_table_meta(table) is None:
            table.n_buckets = n_buckets
        tag = (writer_id, int(batch_id))
        # Conflict retry: a same-bucket commit from OUTSIDE this stream
        # (another writer, a manual compact/rebucket/maintenance window)
        # raises ConcurrentWriteError; re-invoking merge_cdc_batch
        # RE-DERIVES from the new base (latest_state over fresh snapshot
        # + batch), so retrying is exact, and the txn tag keeps even a
        # retried-after-partial-visibility batch exactly-once.
        for attempt in range(conflict_retries + 1):
            try:
                if table.latest_version() is None:
                    table.init_from_events(batch_df, txn=tag)
                elif merge_mode == "mor":
                    table.merge_cdc_batch_mor(batch_df, txn=tag)
                else:
                    table.merge_cdc_batch(batch_df, txn=tag)
                break
            except ConcurrentWriteError:
                if attempt == conflict_retries:
                    raise
        if max_files_per_bucket is not None:
            try:
                table.compact_buckets(
                    min_files=max_files_per_bucket + 1, cluster_cols=cluster_cols
                )
            except ConcurrentWriteError:
                pass  # raced an external commit: the next batch folds
        if max_dv_fraction is not None:
            # deletion-vector debt fold: a live file whose deleted
            # fraction crossed the threshold drags every read through
            # its anti-join forever — fold its bucket (the rewrite
            # reads DV-applied rows, absorbing the vectors; vacuum
            # reclaims the sidecars). Metadata-only check: vectors,
            # row counts and bucket tags all come from the log.
            from cdc_streaming_pipeline_spark.sources.txlog import (
                resolve_file_dvs,
                resolve_file_nulls,
                resolve_snapshot_state,
            )

            dvs = resolve_file_dvs(table)
            if dvs:
                live, bmap, _ = resolve_snapshot_state(table)
                live_set = set(live)
                nulls = resolve_file_nulls(table)
                dirty: set[int] = set()
                for f, m in dvs.items():
                    if f not in live_set or f not in bmap:
                        continue
                    nu = nulls.get(f)
                    rows = next((rc for _, rc in nu.values()), None) if nu else None
                    frac = (m["n"] / rows) if rows else 1.0
                    if frac > max_dv_fraction:
                        dirty.add(bmap[f])
                if dirty:
                    try:
                        table.compact_buckets(
                            buckets=sorted(dirty),
                            min_files=1,
                            cluster_cols=cluster_cols,
                        )
                    except ConcurrentWriteError:
                        pass  # raced: the next batch folds
        if analyze_every and stats_cols and (int(batch_id) + 1) % analyze_every == 0:
            from cdc_streaming_pipeline_spark.sources.txlog import analyze_table

            try:
                analyze_table(table, stats_cols=stats_cols)
            except ConcurrentWriteError:
                pass  # facts-only commit lost a race: next cadence retries
        if vacuum_every and (int(batch_id) + 1) % vacuum_every == 0:
            vacuum(
                table,
                retain_versions=vacuum_retain_versions,
                min_age_seconds=vacuum_min_age_seconds,
            )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .queryName(writer_id)
        .option("checkpointLocation", checkpoint_path)
    )


def psi_drift_monitor_sink(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    value_col: str,
    tag_col: str,
    ref_counts: dict[int, int],
    n_bins: int = 10,
    bin_width: float = 50.0,
    round_to: int = 6,
    query_name: str = "psi_drift_monitor",
):
    """Per-micro-batch distribution-drift monitor: bin ``value_col``
    into ``n_bins`` FIXED-width buckets, compute the batch's PSI against
    a frozen reference histogram (``ref_counts``: bin -> count, the
    bounded artifact of a one-time reference aggregation), and append
    one row (tag, n_events, psi) per batch to ``out_path`` — the
    always-on ingestion canary that flags a drifting upstream while the
    data is still landing, instead of at the next offline audit.

    Scale shape: the per-batch work is ONE hash aggregation to <=
    n_bins rows; the PSI arithmetic runs on the driver over those
    n_bins numbers (bounded by the PARAMETER, never the batch), with
    add-one smoothing over the fixed bin count so empty bins stay
    finite and engine-portable, and HALF_UP decimal rounding so the
    result is bit-comparable to any SQL engine's ROUND. ``tag_col``
    identifies the batch in the output (any per-batch-constant column,
    e.g. a wave/file id), making the monitor's output independent of
    micro-batch arrival order. Replay-idempotent: each batch OVERWRITES
    its deterministic ``batch=<id>`` partition, so a micro-batch
    replayed after a crash between the write and the checkpoint commit
    lands the same row again instead of a duplicate."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    n_ref = sum(ref_counts.values())
    p = {
        b: (ref_counts.get(b, 0) + 1.0) / (n_ref + n_bins) for b in range(n_bins)
    }

    def _monitor(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.groupBy(
                # clamp BOTH ends: without greatest(0, ...) a negative
                # value lands in a negative bin that inflates n yet
                # contributes no PSI term — silently diverging from the
                # documented n_bins-bucket definition (and any SQL twin)
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.floor(F.col(value_col) / F.lit(bin_width)),
                        F.lit(n_bins - 1),
                    ),
                ).alias("_b")
            )
            .agg(F.count("*").alias("_c"), F.max(tag_col).alias("_t"))
            .collect()  # <= n_bins rows by construction
        )
        if not rows:
            return
        counts = {int(r["_b"]): int(r["_c"]) for r in rows}
        n = sum(counts.values())
        tag = max(r["_t"] for r in rows)
        psi = 0.0
        for b in range(n_bins):
            q = (counts.get(b, 0) + 1.0) / (n + n_bins)
            psi += (p[b] - q) * math.log(p[b] / q)
        psi = float(
            Decimal(repr(psi)).quantize(
                Decimal(f"1e-{round_to}"), rounding=ROUND_HALF_UP
            )
        )
        # one JVM-side literal row — createDataFrame([...]) parallelizes
        # the list over defaultParallelism partitions and spins the whole
        # Python worker pool for ONE row (~4.5 s/batch on local[32], the
        # bulk of the monitor's fixed per-micro-batch cost)
        batch_df.sparkSession.range(1, numPartitions=1).select(
            F.lit(tag).cast("bigint").alias("tag"),
            F.lit(n).cast("bigint").alias("n_events"),
            F.lit(psi).cast("double").alias("psi"),
        ).write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={int(batch_id)}")
        )

    return (
        stream_df.writeStream.foreachBatch(_monitor)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
    )
