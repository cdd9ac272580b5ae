"""Small-commit fuse paths (r14 verdict #5 — MoR MERGE wall parity)
must be BIT-IDENTICAL to the plans they replace:

- bloom fuse: when a write's total staged bytes fit
  ``BLOOM_FUSE_TOTAL_BYTES``, the k position sets ride the stats
  aggregate and the sidecars are composed driver-side — same bitmaps,
  same pruning, no second scan job (``_bloom_job`` spied unused);
- DV staging gate: a trickle update/merge stages its deletion vectors
  driver-side (``_dv_stage_executor_side`` spied unused) with results
  identical to the executor-side path (threshold forced to 0);
- driver-side facts: a small write's min/max, null counts and value
  sets come from pyarrow on the driver, equal to both Spark plans'
  (gates forced to 0), with no Spark job launched."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.schemas import DELETED_COL, LSN_COL, OP_COL, pad_lsn
from cdc_streaming_pipeline_spark.sources import txlog
from cdc_streaming_pipeline_spark.sources.txlog import (
    BucketedTxLogTable,
    resolve_file_blooms,
    resolve_file_dicts,
    resolve_file_dvs,
    resolve_file_nulls,
    resolve_file_stats,
    resolve_snapshot_state,
)


def _events(spark, n=200, lsn=1):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 7).alias("customer"),
        (F.col("id") % 50).cast("double").alias("amount"),
        F.lit("c").alias(OP_COL),
        pad_lsn(F.lit(lsn)).alias(LSN_COL),
        F.lit(None).cast("string").alias(DELETED_COL),
    )


def _bloom_bitmaps(t):
    """{column: multiset of sidecar bitmap bytes} for the live files."""
    out: dict[str, list[bytes]] = {}
    for _, cols in resolve_file_blooms(t).items():
        for c, meta in cols.items():
            if meta:
                out.setdefault(c, []).append(t.blob.get(meta["path"]))
    return {c: sorted(v) for c, v in out.items()}


def test_bloom_fuse_bitmaps_match_two_job_plan(spark, tmp_path, monkeypatch):
    kw = dict(
        key_cols=["id"], n_buckets=4, bloom_cols=["customer"], bloom_bits=1 << 12
    )
    # fused path (small write), with a spy proving _bloom_job never ran
    calls: list[int] = []
    real = BucketedTxLogTable._bloom_job

    def spy(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(BucketedTxLogTable, "_bloom_job", spy)
    t_fused = BucketedTxLogTable(spark, str(tmp_path / "fused"), **kw)
    t_fused.init_from_events(_events(spark))
    assert calls == [], "small write must fuse bloom positions into the stats job"

    # two-job path: same data, fuse gate forced off
    monkeypatch.setattr(txlog, "BLOOM_FUSE_TOTAL_BYTES", 0)
    t_twojob = BucketedTxLogTable(spark, str(tmp_path / "twojob"), **kw)
    t_twojob.init_from_events(_events(spark))
    assert calls, "gate off must take the scan-job plan"
    monkeypatch.undo()

    assert _bloom_bitmaps(t_fused) == _bloom_bitmaps(t_twojob)

    # and the fused sidecars actually prune: absent key reads 0 files
    df, fr, ft = t_fused.read_state_where_in("customer", [999_999])
    assert df.count() == 0 and fr == 0 and ft > 0


def test_trickle_dv_staging_driver_side_matches_executor_side(
    spark, tmp_path, monkeypatch
):
    calls: list[int] = []
    real = txlog._dv_stage_executor_side

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(txlog, "_dv_stage_executor_side", spy)

    t_drv = BucketedTxLogTable(
        spark, str(tmp_path / "drv"), key_cols=["id"], n_buckets=4
    )
    t_drv.init_from_events(_events(spark))
    t_drv.update_where(F.col("id") < 5, {"amount": F.lit(-1.0)})
    t_drv.merge_cdc_batch_mor(_events(spark, n=3, lsn=9))
    assert calls == [], "trickle commits must stage vectors driver-side"

    # identical workload with the gate closed -> executor-side staging
    monkeypatch.setattr(txlog, "DV_BROADCAST_MAX_POSITIONS", 0)
    t_exe = BucketedTxLogTable(
        spark, str(tmp_path / "exe"), key_cols=["id"], n_buckets=4
    )
    t_exe.init_from_events(_events(spark))
    t_exe.update_where(F.col("id") < 5, {"amount": F.lit(-1.0)})
    t_exe.merge_cdc_batch_mor(_events(spark, n=3, lsn=9))
    assert calls, "gate closed must take the executor path"
    monkeypatch.undo()

    a = sorted(map(tuple, t_drv.read_state().select("id", "customer", "amount").collect()))
    b = sorted(map(tuple, t_exe.read_state().select("id", "customer", "amount").collect()))
    assert a == b
    # same vector SIZES per commit on both paths (paths/uuids differ)
    na = sorted(m["n"] for m in resolve_file_dvs(t_drv).values())
    nb = sorted(m["n"] for m in resolve_file_dvs(t_exe).values())
    # 5 update marks + 3 merge replacements (the merge DVs the updated
    # postimages of ids 0-2)
    assert na == nb and sum(na) == 8


def _facts_by_bucket(t):
    """{bucket: (file_stats, file_nulls, file_dicts)} of the live files —
    bucket-keyed so two tables over the same data compare (every bucket
    holds exactly one file; file paths differ per table)."""
    files, bmap, _ = resolve_snapshot_state(t)
    assert len(set(bmap[f] for f in files)) == len(files)
    stats, nulls, dicts = (
        resolve_file_stats(t),
        resolve_file_nulls(t),
        resolve_file_dicts(t),
    )
    return {
        bmap[f]: (stats.get(f), nulls.get(f), dicts.get(f)) for f in files
    }


def test_driver_side_facts_match_spark_plans(spark, tmp_path, monkeypatch):
    """A small write's skipping facts are computed with pyarrow on the
    driver; they must equal both Spark plans' facts (the fused aggregate
    and the two-phase one) on the same data, and no Spark job may run
    for them. Covers tinyint and smallint (with negative values), int
    and bigint, non-ASCII strings, strings longer than STATS_TRUNC and
    DICT_VALUE_CAP, an all-null column, and files with more than
    DICT_CAP distinct values."""
    long = "ü" * (txlog.DICT_VALUE_CAP + 1)
    assert len(long) > txlog.STATS_TRUNC
    ev = _events(spark).select(
        "*",
        (F.col("id") % 3).cast("int").alias("small_i"),
        (F.col("id") % 7 - 3).cast("tinyint").alias("tiny"),
        (F.col("id") * -131).cast("smallint").alias("short"),
        (F.col("id") * 1_000_003).alias("big"),
        F.element_at(
            F.array(*[F.lit(v) for v in ("日本", "é", "z", "Zebra", "ß")]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("name"),
        F.concat(F.lit(long), (F.col("id") % 4).cast("string")).alias("doc"),
        F.lit(None).cast("string").alias("nothing"),
    )
    cols = ["id", "small_i", "tiny", "short", "big", "name", "doc", "nothing"]
    kw = dict(key_cols=["id"], n_buckets=4, stats_cols=cols)

    calls: list[str] = []
    real_facts = BucketedTxLogTable._staged_skipping_facts
    real_spark_rows = BucketedTxLogTable._spark_fact_rows
    sc = spark.sparkContext

    def facts_spy(self, *a, **k):
        group = f"facts-spy-{len(calls)}"
        sc.setJobGroup(group, "skipping facts")
        try:
            return real_facts(self, *a, **k)
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            calls.append(group)
            jobs[group] = list(sc.statusTracker().getJobIdsForGroup(group))

    def spark_rows_spy(self, *a, **k):
        spark_aggs.append(1)
        return real_spark_rows(self, *a, **k)

    jobs: dict[str, list[int]] = {}
    spark_aggs: list[int] = []
    monkeypatch.setattr(BucketedTxLogTable, "_staged_skipping_facts", facts_spy)
    monkeypatch.setattr(BucketedTxLogTable, "_spark_fact_rows", spark_rows_spy)

    t_drv = BucketedTxLogTable(spark, str(tmp_path / "driver"), **kw)
    t_drv.init_from_events(ev)
    assert spark_aggs == [], "a small write must compute its facts on the driver"
    assert jobs[calls[-1]] == [], "driver-side facts must launch no Spark job"

    # the fused Spark aggregate: driver path closed by the total-bytes gate
    monkeypatch.setattr(txlog, "BLOOM_FUSE_TOTAL_BYTES", 0)
    t_fused = BucketedTxLogTable(spark, str(tmp_path / "fused"), **kw)
    t_fused.init_from_events(ev)
    # the two-phase Spark plan: small-file gate forced to 0
    monkeypatch.setattr(txlog, "SMALL_FACTS_FILE_BYTES", 0)
    t_two = BucketedTxLogTable(spark, str(tmp_path / "twophase"), **kw)
    t_two.init_from_events(ev)
    assert len(spark_aggs) == 2 and all(jobs[g] for g in calls[1:])
    monkeypatch.undo()

    drv = _facts_by_bucket(t_drv)
    assert drv == _facts_by_bucket(t_fused) == _facts_by_bucket(t_two)
    # the cases the data was built to cover actually occur
    for st, nu, di in drv.values():
        rows = nu["id"][1]
        assert rows > txlog.BucketedTxLogTable.DICT_CAP
        assert st["nothing"] == [None, None] and nu["nothing"] == [rows, rows]
        assert st["doc"][0] == long[: txlog.STATS_TRUNC]
        # big, short: > DICT_CAP distinct; doc: too long
        assert set(di) == {"small_i", "tiny", "name"}
        assert di["small_i"] == [0, 1, 2]
        assert st["short"][0] < st["short"][1] <= 0
    assert {v for _, _, di in drv.values() for v in di["tiny"]} == set(range(-3, 4))
    assert {v for _, _, di in drv.values() for v in di["name"]} == {
        "日本", "é", "z", "Zebra", "ß"
    }
    assert {tuple(st["name"]) for st, _, _ in drv.values()} <= {("Zebra", "日本")}
