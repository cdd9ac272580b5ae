"""Bucket-layout metadata + rebucket (sources/txlog.py): the log — not
the constructor — owns the bucket layout. Opening a table with the
wrong n_buckets used to silently select the wrong old files in a merge
(duplicate keys in read_state); now the layout is recorded as
``table_meta`` in entry 0 / rebucket entries / checkpoints, validated
at open, adopted per operation by long-lived handles, and evolvable via
``rebucket()`` with every prior version still readable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.operators.merge import with_key_bucket
from cdc_streaming_pipeline_spark.sources.txlog import (
    BucketedTxLogTable,
    ConcurrentWriteError,
    resolve_snapshot_state,
    resolve_table_meta,
    write_checkpoint,
)

SCHEMA = "id bigint, status string, _op string, _lsn string, _deleted string"


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _seed(spark, n=60):
    return _events(spark, [(i, f"s{i}", "r", "0001", None) for i in range(n)])


def _state(t, version=None):
    return {r["id"]: r["status"] for r in t.read_state(version).collect()}


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["id"])
    kw.setdefault("n_buckets", 8)
    return BucketedTxLogTable(spark, str(tmp_path / "t"), **kw)


def test_layout_recorded_resolved_and_validated(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    assert resolve_table_meta(t) == {
        "key_cols": ["id"], "n_buckets": 8, "order_col": "_lsn",
    }
    # omitted args resolve FROM the log
    opened = BucketedTxLogTable(spark, str(tmp_path / "t"))
    assert (opened.key_cols, opened.n_buckets, opened.order_col) == (
        ["id"], 8, "_lsn",
    )
    # a mismatching explicit layout is a loud error, not silent corruption
    with pytest.raises(ValueError, match="n_buckets"):
        _mk(spark, tmp_path, n_buckets=16)
    with pytest.raises(ValueError, match="key_cols"):
        _mk(spark, tmp_path, key_cols=["status"])
    # meta rides checkpoints: resolution stays bounded and exact
    write_checkpoint(t)
    assert resolve_table_meta(t)["n_buckets"] == 8
    # a brand-new path still requires key_cols
    with pytest.raises(ValueError, match="key_cols is required"):
        BucketedTxLogTable(spark, str(tmp_path / "fresh"))


def test_rebucket_preserves_state_and_retags_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.merge_cdc_batch(_events(spark, [(2, "UPD", "u", "0002", None)]))
    pre_state = _state(t)
    pre_v = t.latest_version()

    v = t.rebucket(16)
    assert v == pre_v + 1 and t.n_buckets == 16
    assert _state(t) == pre_state  # logical no-op
    assert _state(t, pre_v) == pre_state  # time travel intact
    snap, bmap, _ = resolve_snapshot_state(t, v)
    assert set(bmap.values()) <= set(range(16)) and max(bmap.values()) >= 8
    assert resolve_table_meta(t)["n_buckets"] == 16
    # no-op rebucket returns the current version without a commit
    assert t.rebucket(16) == v

    # subsequent merges prune under the NEW math: pick a key whose
    # bucket differs mod 8 vs mod 16 and assert no duplicate/stale rows
    probe = with_key_bucket(
        spark.createDataFrame([(k,) for k in range(60)], "id bigint"), ["id"], 16
    )
    k = next(
        r["id"] for r in probe.collect() if r["_kb"] >= 8
    )  # old math would look in bucket _kb % 8 — the wrong files
    t.merge_cdc_batch(_events(spark, [(k, "REBUCKETED", "u", "0009", None)]))
    rows = t.read_state().filter(F.col("id") == k).collect()
    assert len(rows) == 1 and rows[0]["status"] == "REBUCKETED"


def test_stale_handle_adopts_rebucketed_layout(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    stale = BucketedTxLogTable(spark, str(tmp_path / "t"))  # opened pre-rebucket
    t.rebucket(16)
    assert stale.n_buckets == 8
    stale.merge_cdc_batch(_events(spark, [(7, "VIA_STALE", "u", "0005", None)]))
    assert stale.n_buckets == 16  # adopted the recorded layout
    got = t.read_state().filter(F.col("id") == 7).collect()
    assert len(got) == 1 and got[0]["status"] == "VIA_STALE"


def test_merge_racing_rebucket_conflicts_loudly(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    other = BucketedTxLogTable(spark, str(tmp_path / "t"))

    def racing_backend(entry_path, payload):
        other.rebucket(16)  # lands between the merge's resolve and commit
        return False

    racer = BucketedTxLogTable(
        spark, str(tmp_path / "t"), commit_backend=racing_backend
    )
    with pytest.raises(ConcurrentWriteError):
        racer.merge_cdc_batch(_events(spark, [(1, "STALE", "u", "0002", None)]))
    # nothing half-landed: state reflects the rebucket only
    assert _state(t) == {i: f"s{i}" for i in range(60)}


def test_legacy_log_without_meta_still_opens(spark, tmp_path):
    """Tables written before table_meta existed carry no layout record:
    explicit constructor args stand (back-compat), resolution returns
    None, and operations run under the caller's layout."""
    import json

    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark, n=20))
    # strip the meta from entry 0, simulating a legacy log
    p = t._entry_path(0)
    with open(p) as f:
        e = json.load(f)
    del e["table_meta"]
    with open(p, "w") as f:
        json.dump(e, f)
    legacy = BucketedTxLogTable(spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=8)
    assert resolve_table_meta(legacy) is None
    legacy.merge_cdc_batch(_events(spark, [(3, "OK", "u", "0002", None)]))
    assert _state(legacy)[3] == "OK"
    with pytest.raises(ValueError, match="key_cols is required"):
        BucketedTxLogTable(spark, str(tmp_path / "t"))

def test_lazy_rebucket_is_metadata_only_and_merges_migrate(spark, tmp_path):
    """rebucket(rewrite=False): one tiny JSON commit, ZERO data movement
    — pruning stays exact through the covering rule (file tagged b
    under divisor layout n holds exactly the keys with t % n == b under
    the new count), reads are unchanged, and every subsequent merge
    migrates the buckets it touches as a side effect. The 100 TB form
    of layout evolution."""
    import os

    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.merge_cdc_batch(_events(spark, [(2, "UPD", "u", "0002", None)]))
    pre_state = _state(t)
    snap_pre, _, _ = resolve_snapshot_state(t, t.latest_version())
    mtimes = {f: os.path.getmtime(f) for f in snap_pre}

    v = t.rebucket(16, rewrite=False)
    assert t.n_buckets == 16 and resolve_table_meta(t)["n_buckets"] == 16
    e = t._read_entry(v)
    assert e["adds"] == [] and e["removes"] == []  # metadata only
    snap_post, _, _ = resolve_snapshot_state(t, v)
    assert sorted(snap_post) == sorted(snap_pre)  # zero data movement
    assert all(os.path.getmtime(f) == mtimes[f] for f in snap_post)
    assert _state(t) == pre_state  # reads unchanged

    # a merge touching a key prunes EXACTLY through the covering rule:
    # only files whose old-layout tag covers the touched new bucket are
    # removed, and its rewrite lands under the NEW layout
    from cdc_streaming_pipeline_spark.sources.txlog import resolve_file_layouts

    k = 7
    mv, touched = t.merge_cdc_batch(_events(spark, [(k, "MIGRATED", "u", "0003", None)]))
    e = t._read_entry(mv)
    layouts = resolve_file_layouts(t, mv)
    assert all(layouts[f] == 16 for f in e["adds"])  # migrated on write
    got = _state(t)
    pre_state[k] = "MIGRATED"
    assert got == pre_state

    # no duplicate rows for ANY key that shares the old bucket with k
    from pyspark.sql import functions as F2

    counts = t.read_state().groupBy("id").count().filter(F2.col("count") > 1)
    assert counts.count() == 0


def test_lazy_rebucket_guards_divisibility(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark, n=20))
    with pytest.raises(ValueError, match="multiple of every live layout"):
        t.rebucket(12, rewrite=False)  # 8 does not divide 12
    # the rewrite path takes any count
    t.rebucket(12, rewrite=True)
    assert _state(t) == {i: f"s{i}" for i in range(20)}


def test_migrate_buckets_finishes_the_lazy_tail(spark, tmp_path):
    from cdc_streaming_pipeline_spark.sources.txlog import resolve_file_layouts

    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.rebucket(16, rewrite=False)
    # bounded steps: migrate at most 3 files per commit until done
    total, steps = 0, 0
    while True:
        v, n = t.migrate_buckets(max_files=3)
        if v is None:
            break
        total += n
        steps += 1
        assert n <= 3
    assert total > 0 and steps >= 2  # genuinely incremental
    snap, bmap, _ = resolve_snapshot_state(t, t.latest_version())
    layouts = resolve_file_layouts(t, t.latest_version())
    assert all(layouts[f] == 16 for f in snap)  # fully migrated
    assert set(bmap.values()) <= set(range(16)) and max(bmap.values()) >= 8
    assert _state(t) == {i: f"s{i}" for i in range(60)}  # content intact
    assert t.migrate_buckets() == (None, 0)


def test_compact_folds_across_mixed_layouts(spark, tmp_path):
    """compact_buckets under a mid-migration table: per-bucket file
    counts use the covering rule, and folding an overgrown bucket that
    is partly served by an old-layout file preserves every OTHER bucket
    that file also served."""
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.rebucket(16, rewrite=False)
    # touch one key so its new bucket holds BOTH a new-layout file and
    # the old-layout files of its sibling buckets stay intact
    t.merge_cdc_batch(_events(spark, [(2, "UPD", "u", "0002", None)]))
    pre = _state(t)
    v, folded = t.compact_buckets(min_files=1)  # aggressive: fold everything
    assert folded and _state(t) == pre
    from cdc_streaming_pipeline_spark.sources.txlog import resolve_file_layouts

    snap, _, _ = resolve_snapshot_state(t, v)
    layouts = resolve_file_layouts(t, v)
    assert all(layouts[f] == 16 for f in snap)  # compaction migrated too


def test_merge_racing_lazy_rebucket_retries_safely(spark, tmp_path):
    """The docstring's race claim, pinned: a merge that stages under the
    OLD layout, loses the version race to a metadata-only rebucket, and
    retries commits files tagged with their own (divisor) layout — so
    they stay exactly prunable under the new count, no duplicate keys,
    and a later rebucket's divisibility guard sees the old layout as
    still live."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        posix_put_if_absent,
        resolve_file_layouts,
    )

    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))

    other = BucketedTxLogTable(spark, str(tmp_path / "t"))  # second handle
    calls = {"n": 0}

    def racing_backend(entry_path, payload):
        calls["n"] += 1
        if calls["n"] == 1:
            other.rebucket(16, rewrite=False)  # metadata commit wins first
            return False
        return posix_put_if_absent(entry_path, payload)

    racer = BucketedTxLogTable(
        spark, str(tmp_path / "t"), commit_backend=racing_backend
    )
    v, touched = racer.merge_cdc_batch(
        _events(spark, [(5, "MINE", "u", "0002", None)])
    )
    assert calls["n"] == 2 and touched  # retried once, landed
    e = racer._read_entry(v)
    layouts = resolve_file_layouts(racer, v)
    assert all(layouts[f] == 8 for f in e["adds"])  # staged layout honored
    assert resolve_table_meta(racer)["n_buckets"] == 16  # rebucket stands
    got = _state(t)
    assert got[5] == "MINE" and len(got) == 60  # no dup/lost keys
    counts = t.read_state().groupBy("id").count().filter(F.col("count") > 1)
    assert counts.count() == 0
    # the racer's divisor-layout files keep a FUTURE lazy rebucket honest
    with pytest.raises(ValueError, match="multiple of every live layout"):
        t.rebucket(24, rewrite=False)  # 16 | 24 fails; 8 alone would pass
    assert t.rebucket(32, rewrite=False) > v


def _buckets_of(spark, ids, n):
    """{id: pmod(xxhash64(id), n)} via the engine's own bucket expr."""
    df = with_key_bucket(
        spark.createDataFrame([(i,) for i in ids], "id bigint"), ["id"], n
    )
    return {r["id"]: r["_kb"] for r in df.collect()}


def test_merge_retry_detects_cross_layout_overlap_gcd(spark, tmp_path):
    """ADVICE r11 (medium): the retry conflict re-check must be layout-
    SYMMETRIC. Scenario: our merge (handle at N=8) touches bucket t with
    NO old files; while we lose the version race, a lazy rebucket to 16
    lands AND a foreign merge commits the SAME KEY under the new layout
    (file tagged b'=t+8). The old one-sided test `t % n' == b'` reduced
    to `t == b'` and missed the overlap — both writers committed images
    of one key. The gcd rule (t % g == b' % g, g = gcd(8,16) = 8) must
    refuse the retry instead."""
    from cdc_streaming_pipeline_spark.sources.txlog import posix_put_if_absent

    b16 = _buckets_of(spark, range(4000), 16)
    # the contested key: bucket 11 under 16 -> bucket 3 under 8
    contested = next(i for i in range(4000) if b16[i] == 11)
    # seed AVOIDS bucket 3 under 8 (== buckets 3 and 11 under 16), so the
    # retry's still_there check is trivially true — the ADVICE trap
    seed_ids = [i for i in range(4000) if b16[i] % 8 != 3][:60]
    t = _mk(spark, tmp_path)
    t.init_from_events(
        _events(spark, [(i, f"s{i}", "r", "0001", None) for i in seed_ids])
    )

    other = BucketedTxLogTable(spark, str(tmp_path / "t"))
    calls = {"n": 0}

    def racing_backend(entry_path, payload):
        calls["n"] += 1
        if calls["n"] == 1:
            other.rebucket(16, rewrite=False)
            other.merge_cdc_batch(
                _events(spark, [(contested, "THEIRS", "u", "0003", None)])
            )
            return False
        return posix_put_if_absent(entry_path, payload)

    racer = BucketedTxLogTable(
        spark, str(tmp_path / "t"), commit_backend=racing_backend
    )
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        racer.merge_cdc_batch(
            _events(spark, [(contested, "MINE", "u", "0002", None)])
        )
    # exactly ONE image of the contested key survives
    got = _state(t)
    assert got[contested] == "THEIRS" and len(got) == 61
    dups = t.read_state().groupBy("id").count().filter(F.col("count") > 1)
    assert dups.count() == 0


def test_lazy_rebucket_ignores_dead_files_layouts(spark, tmp_path):
    """ADVICE r11 (low): the divisibility guard must consult LIVE files
    only — a full rewrite to n=8 leaves dead layout-6 files in the
    accumulated layout map, which must not veto a lazy rebucket to 16
    that every live file permits."""
    t = _mk(spark, tmp_path, n_buckets=6)
    t.init_from_events(_seed(spark))
    t.rebucket(8, rewrite=True)  # all live files now layout 8; 6 is dead
    before = _state(t)
    v = t.rebucket(16, rewrite=False)  # old code: rejected by dead layout 6
    assert v is not None and resolve_table_meta(t)["n_buckets"] == 16
    assert _state(t) == before
    # reads and merges stay exact across the evolved layout
    t.merge_cdc_batch(_events(spark, [(5, "HOT", "u", "0002", None)]))
    got = _state(t)
    assert got[5] == "HOT" and len(got) == 60


def _recorded(t, v=None):
    """(recorded column names, complete mark) of the log at ``v``."""
    from cdc_streaming_pipeline_spark.sources.txlog import _resolve_schema_record

    rec = _resolve_schema_record(t, t.latest_version() if v is None else v)
    return {f["name"] for f in rec["schema"]["fields"]}, rec.get("schema_complete")


def _drift(spark, rows):
    return spark.createDataFrame(rows, SCHEMA + ", note string")


def test_recorded_schema_only_grows(spark, tmp_path):
    """Reads use the schema the log records, so the record must keep a
    drift column that only one bucket carries. A merge touching no old
    file writes the batch's schema alone, and a compaction of another
    bucket rewrites files without the column; read_state() must still
    return the column and its values afterwards."""
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark, n=1))  # id 0: a single live bucket
    t.merge_cdc_batch(_drift(spark, [(0, "s0b", "u", "0002", None, "hello")]))
    kb = _buckets_of(spark, range(40), 8)
    fresh = next(k for k in range(40) if kb[k] != kb[0])
    _, touched = t.merge_cdc_batch(_events(spark, [(fresh, "new", "c", "0003", None)]))
    assert touched == [kb[fresh]]
    assert _recorded(t) == ({"id", "status", "_op", "_lsn", "_deleted", "note"}, True)

    v, done = t.compact_buckets(buckets=[kb[fresh]], min_files=1)
    assert done == [kb[fresh]] and "note" in _recorded(t, v)[0]
    got = {r["id"]: r["note"] for r in t.read_state().collect()}
    assert got == {0: "hello", fresh: None}


def test_log_without_complete_mark_keeps_drift_column(spark, tmp_path):
    """Logs written before the ``schema_complete`` mark may record a
    schema without a drift column that lives in another bucket (bucket
    compaction recorded only what it rewrote). Reads of such a log keep
    merging footers, and the first merge seals the record with a footer
    merge, so rewriting the drift bucket keeps the column's values."""
    import json

    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    _, (drift_bucket,) = t.merge_cdc_batch(
        _drift(spark, [(3, "s3b", "u", "0002", None, "hello")])
    )
    _, bmap, _ = resolve_snapshot_state(t)
    other = min(b for b in bmap.values() if b != drift_bucket)
    v, _ = t.compact_buckets(buckets=[other], min_files=1)
    # rewrite the log into the old shape: no mark anywhere, and the
    # compaction records the schema of the bucket it rewrote
    for ver in range(v + 1):
        p = t._entry_path(ver)
        with open(p) as f:
            e = json.load(f)
        e.pop("schema_complete", None)
        if ver == v:
            e["schema"]["fields"] = [
                f for f in e["schema"]["fields"] if f["name"] != "note"
            ]
        with open(p, "w") as f:
            json.dump(e, f)

    old = BucketedTxLogTable(spark, str(tmp_path / "t"))
    assert _recorded(old) == ({"id", "status", "_op", "_lsn", "_deleted"}, None)

    def notes():
        return {r["id"]: r["note"] for r in old.read_state().collect()}

    want = {i: ("hello" if i == 3 else None) for i in range(60)}
    assert notes() == want
    kb = _buckets_of(spark, range(60), 8)
    mate = next(k for k in range(60) if k != 3 and kb[k] == drift_bucket)
    old.merge_cdc_batch(_events(spark, [(mate, "mate", "u", "0003", None)]))
    assert "note" in _recorded(old)[0] and _recorded(old)[1]
    assert notes() == want
    old.compact_buckets(buckets=[drift_bucket], min_files=1)
    assert notes() == want
