"""SnapshotTable commit metadata, per-commit min/max stats, and scan pruning
(the in-sandbox Iceberg-parity surface — VERDICT r1 next-round #6)."""

from __future__ import annotations

import contextlib
import os
import time

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.schemas import PHASH_SEEN
from web_crawler_spark.sources.lake import SnapshotTable


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).cast("int").alias("settled_round")
    )


def test_stats_pruning_skips_disjoint_commits(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t.overwrite(_mk(spark, 0, 10).withColumn("settled_round", F.lit(1).cast("int")))
    t.append(_mk(spark, 10, 20).withColumn("settled_round", F.lit(2).cast("int")))
    t.append(_mk(spark, 20, 30).withColumn("settled_round", F.lit(3).cast("int")))
    all_dirs = t.data_dirs()
    assert len(all_dirs) == 3
    # only the commit whose [min,max] intersects survives
    kept = t.data_dirs(prune={"settled_round": (2, 2)})
    assert len(kept) == 1
    # pruned read returns exactly the matching commit's rows
    got = t.read(spark, prune={"settled_round": (2, 2)})
    assert sorted(r["url_hash"] for r in got.collect()) == list(range(10, 20))
    # half-open bounds (None = unbounded)
    assert len(t.data_dirs(prune={"settled_round": (3, None)})) == 1
    assert len(t.data_dirs(prune={"settled_round": (None, 1)})) == 1
    # disjoint range prunes everything; read needs the schema and is empty
    empty = t.read(spark, schema=got.schema, prune={"settled_round": (99, 100)})
    assert empty.count() == 0


def test_footer_stats_match_agg_fallback(spark, tmp_path):
    """The commit-time stats fold parquet footers driver-side (no Spark
    job); the folded result must equal the agg job it replaced, including
    nulls and multi-file commits."""
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    df = (
        spark.range(0, 1000)
        .select(
            F.col("id").alias("url_hash"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise((F.col("id") % 7).cast("int"))
            .alias("settled_round"),
        )
        .repartition(4)  # multi-file commit: the fold spans files
    )
    t.overwrite(df)
    [d] = [os.path.join(t._data_dir, n) for n in t.data_dirs()]
    fast = t._footer_stats(d)
    assert fast is not None, "int column must take the footer fast path"
    t._FOOTER_EXACT = ()  # force the agg fallback on the same dir
    slow = t._commit_stats(spark, d)
    assert {k: fast[k] for k in ("n_rows", "cols")} == slow == {
        "n_rows": 1000,
        "cols": {"settled_round": [0, 6]},
    }
    # per-file granularity rides along: files partition the commit's rows
    per_file = fast["files"]
    assert sum(fs["n_rows"] for fs in per_file.values()) == 1000
    for fs in per_file.values():
        lo, hi = fs["cols"]["settled_round"]
        assert 0 <= lo <= hi <= 6


def test_footer_stats_all_null_and_string_fallback(spark, tmp_path):
    # all-null stats column: footer path folds it to [None, None]
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t.overwrite(
        spark.range(0, 5).select(
            F.col("id").alias("url_hash"),
            F.lit(None).cast("int").alias("settled_round"),
        )
    )
    [d] = [os.path.join(t._data_dir, n) for n in t.data_dirs()]
    fast = t._footer_stats(d)
    assert {k: fast[k] for k in ("n_rows", "cols")} == {
        "n_rows": 5,
        "cols": {"settled_round": [None, None]},
    }
    # string stats column: footer min/max may be writer-truncated → must
    # decline the fast path (agg fallback gives the exact value)
    ts = SnapshotTable(str(tmp_path / "ts"), stats_cols=["name"])
    ts.overwrite(spark.range(0, 5).select(F.concat(F.lit("n"), "id").alias("name")))
    [ds] = [os.path.join(ts._data_dir, n) for n in ts.data_dirs()]
    assert ts._footer_stats(ds) is None
    assert ts._commit_stats(spark, ds)["cols"]["name"] == ["n0", "n4"]


def test_stats_pruning_is_conservative_without_stats(spark, tmp_path):
    """Commits written before stats_cols was configured (no stats recorded)
    must always be scanned — pruning never guesses."""
    t0 = SnapshotTable(str(tmp_path / "t"))
    t0.overwrite(_mk(spark, 0, 5))
    t1 = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t1.append(_mk(spark, 5, 10).withColumn("settled_round", F.lit(6).cast("int")))
    kept = t1.data_dirs(prune={"settled_round": (6, 6)})
    assert len(kept) == 2  # stat-less commit kept, matching commit kept
    rows = t1.read(spark, prune={"settled_round": (6, 6)}).count()
    assert rows == 10


def test_empty_commit_is_always_pruned(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t.overwrite(_mk(spark, 0, 5))
    t.append(_mk(spark, 0, 0))  # zero rows
    assert len(t.data_dirs()) == 2
    assert len(t.data_dirs(prune={"settled_round": (0, 100)})) == 1


def test_applied_meta_follows_parent_chain(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.overwrite(_mk(spark, 0, 3), meta={"ingest_batch_id": 0})
    t.append(_mk(spark, 3, 6), meta={"ingest_batch_id": 1})
    assert t.applied_meta("ingest_batch_id") == {0, 1}
    # rollback abandons batch 1's commit → its marker must disappear with it
    t.rollback(s1)
    assert t.applied_meta("ingest_batch_id") == {0}
    # commits without the key don't contribute
    t.append(_mk(spark, 6, 9))
    assert t.applied_meta("ingest_batch_id") == {0}


def test_concurrent_writers_serialize(spark, tmp_path):
    """VERDICT r2 #4: interleaved writers must serialize — every commit
    lands on the chain exactly once (no overwritten manifest, no lost
    rows). Driver-local commits exercise the
    same _finish_commit critical section as the Spark path."""
    import threading

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 1))
    handles = [SnapshotTable(str(tmp_path / "t")) for _ in range(6)]
    errs: list = []

    def writer(h, base):
        try:
            for i in range(5):
                h.append_local(
                    [{"phash": base * 100 + i}], PHASH_SEEN,
                    meta={"ingest_batch_id": base * 100 + i},
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(h, i)) for i, h in enumerate(handles)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    # every one of the 30 commits is on the current chain (plus the seed)
    chain = []
    sid = t.current_snapshot_id()
    while sid is not None:
        m = t._manifest(sid)
        chain.append(m["id"])
        sid = m.get("parent")
    assert len(chain) == 31
    assert len(set(chain)) == 31  # unique ids, no overwritten manifest
    markers = t.applied_meta("ingest_batch_id")
    assert markers == {b * 100 + i for b in range(6) for i in range(5)}


def test_commit_lock_contention_fails_loudly(tmp_path):
    """A writer that cannot acquire the commit lock within the timeout gets
    a TimeoutError naming the table — never a silent race."""
    import fcntl
    import os

    import pytest as _pytest

    t = SnapshotTable(str(tmp_path / "t"))
    fd = os.open(os.path.join(t.path, "_lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)  # simulate a live writer holding the lock
    try:
        with _pytest.raises(TimeoutError, match="commit lock"):
            with t._commit_lock(timeout_sec=0.3):
                pass
    finally:
        os.close(fd)
    # lock released → commits proceed
    t.append_local([{"phash": 1}], PHASH_SEEN)
    assert t.current_snapshot_id() == 1


def test_applied_meta_cache_not_reused_across_expired_rollback(spark, tmp_path):
    """ADVICE r2 #1: a long-lived second handle cached its marker set at a
    snapshot that a rollback later abandoned and expire_snapshots erased.
    Its next walk breaks at the expired manifest — it must NOT union the
    cached set (those markers belong to discarded rows; reusing them would
    skip replayed batches that were never applied)."""
    a = SnapshotTable(str(tmp_path / "t"))
    b = SnapshotTable(str(tmp_path / "t"))  # e.g. the ingest stream's handle
    s1 = a.overwrite(_mk(spark, 0, 3), meta={"ingest_batch_id": 0})
    a.append(_mk(spark, 3, 6), meta={"ingest_batch_id": 1})
    assert b.applied_meta("ingest_batch_id") == {0, 1}  # b caches here
    a.rollback(s1)  # batch 1's rows are discarded
    a.append(_mk(spark, 6, 9), meta={"ingest_batch_id": 2})  # new branch
    a.expire_snapshots(keep_last=1)  # erases s1 + the abandoned s2 manifest
    # b's walk breaks at the expired parent: only the reachable chain counts
    # — batch 1 (rolled back) and batch 0 (expired with its manifest) must
    # both be absent so their batches re-apply
    assert b.applied_meta("ingest_batch_id") == {2}
    # the partial set was not cached; a repeat call recomputes identically
    assert b.applied_meta("ingest_batch_id") == {2}
    # and a FRESH walk with no cache agrees (ground truth)
    assert SnapshotTable(str(tmp_path / "t")).applied_meta("ingest_batch_id") == {2}


def test_idempotent_admit_atomic_with_commit(spark, tmp_path):
    """Applying the same micro-batch twice appends once; the marker is the
    commit's own metadata (no separate file, no crash window)."""
    from web_crawler_spark.schemas import FRONTIER, SEEDS_RAW
    from web_crawler_spark.streaming.ingest import _idempotent_admit

    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    batch = spark.createDataFrame(
        [("https://a.com/x",) + (None,) * 13], SEEDS_RAW
    )
    ck = str(tmp_path / "ck")
    _idempotent_admit(batch, 0, frontier, ck)
    _idempotent_admit(batch, 0, frontier, ck)  # replay after "crash"
    assert frontier.read(spark, schema=FRONTIER).count() == 1
    _idempotent_admit(batch, 1, frontier, ck)  # a genuinely new batch applies
    assert frontier.read(spark, schema=FRONTIER).count() == 2
    # a DIFFERENT stream incarnation's batch 0 is not this stream's batch 0
    _idempotent_admit(batch, 0, frontier, str(tmp_path / "ck2"))
    assert frontier.read(spark, schema=FRONTIER).count() == 3


def test_admit_cap_counts_only_valid_seeds(spark, tmp_path):
    """ADVICE r1 #4: invalid rows must not consume admission-cap slots."""
    from web_crawler_spark.schemas import FRONTIER, SEEDS_RAW
    from web_crawler_spark.streaming.ingest import _admit_batch

    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    rows = [("junk-%d" % i,) + (None,) * 13 for i in range(5)]
    rows += [
        (f"https://ok{i}.com/p",) + (None,) * 13
        for i in range(3)
    ]
    batch = spark.createDataFrame(rows, SEEDS_RAW)
    # cap of 3: all 3 valid seeds admitted even though 5 junk rows precede them
    _admit_batch(batch, 0, frontier, max_urls_per_batch=3)
    got = sorted(
        r["url"] for r in frontier.read(spark, schema=FRONTIER).collect()
    )
    assert got == [f"https://ok{i}.com/p" for i in range(3)]


def test_incremental_read_returns_only_new_commits(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.overwrite(_mk(spark, 0, 5))
    s2 = t.append(_mk(spark, 5, 8))
    t.append(_mk(spark, 8, 10))
    # delta since s1 = the two appended commits
    inc = t.read_incremental(spark, s1)
    assert sorted(r["url_hash"] for r in inc.collect()) == list(range(5, 10))
    # delta since s2 = only the last commit
    inc2 = t.read_incremental(spark, s2)
    assert sorted(r["url_hash"] for r in inc2.collect()) == [8, 9]
    # caught up → empty (needs schema)
    cur = t.current_snapshot_id()
    assert t.read_incremental(spark, cur, schema=inc.schema).count() == 0
    # from the beginning == the full current table
    assert t.read_incremental(spark, None).count() == 10


def test_incremental_read_refuses_overwritten_ranges(spark, tmp_path):
    import pytest as _pytest

    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.overwrite(_mk(spark, 0, 5))
    t.overwrite(_mk(spark, 100, 103))  # rewrites the table
    with _pytest.raises(ValueError, match="not append-only"):
        t.read_incremental(spark, s1)
    # an id not on the current chain (abandoned by rollback) is refused too
    t2 = SnapshotTable(str(tmp_path / "t2"))
    a = t2.overwrite(_mk(spark, 0, 3))
    b = t2.append(_mk(spark, 3, 6))
    t2.rollback(a)
    t2.append(_mk(spark, 6, 9))  # new branch; b is abandoned
    # refused either as non-ancestor or (because the walk reaches the root
    # overwrite first) as not-append-only — both are correct rejections
    with _pytest.raises(ValueError, match="not an ancestor|not append-only"):
        t2.read_incremental(spark, b)


def test_compact_and_expire_snapshots(spark, tmp_path):
    """Maintenance ops: compaction folds N commit dirs into one with the
    data intact; expiration deletes unreachable manifests + unreferenced
    data dirs while retained snapshots keep reading."""
    import os

    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t.overwrite(_mk(spark, 0, 5))
    for lo in (5, 10, 15):
        t.append(_mk(spark, lo, lo + 5))
    assert len(t.data_dirs()) == 4
    pre = sorted(r["url_hash"] for r in t.read(spark).collect())

    sid = t.compact(spark)
    assert len(t.data_dirs()) == 1
    assert sorted(r["url_hash"] for r in t.read(spark).collect()) == pre
    # compaction is a normal snapshot: time travel to the pre-compaction
    # snapshot still works until expiration
    assert t.read(spark, snapshot_id=sid - 1).count() == 20

    data_dir = os.path.join(str(tmp_path / "t"), "data")
    n_dirs_before = len(os.listdir(data_dir))
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted and len(os.listdir(data_dir)) == n_dirs_before - len(deleted)
    assert sorted(r["url_hash"] for r in t.read(spark).collect()) == pre
    assert [m["id"] for m in t.snapshots()] == [t.current_snapshot_id()]
    # post-expiration commits + applied_meta still work (dangling parent)
    t.append(_mk(spark, 20, 22), meta={"ingest_batch_id": 9})
    assert t.applied_meta("ingest_batch_id") == {9}
    assert t.read(spark).count() == 22
    # an expired since-id is a loud error for incremental consumers
    import pytest as _pytest
    with _pytest.raises(ValueError, match="expired|not an ancestor|not append-only"):
        t.read_incremental(spark, sid - 1)


def test_repeated_expiration_handles_dangling_parents(spark, tmp_path):
    """expire → append → expire again must not crash on the dangling parent
    id the first expiration left behind."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3))
    t.append(_mk(spark, 3, 6))
    t.expire_snapshots(keep_last=1)
    t.append(_mk(spark, 6, 9))
    t.expire_snapshots(keep_last=3)  # walk crosses the dangling parent
    assert t.read(spark).count() == 9


def test_incremental_from_beginning_survives_expiration(spark, tmp_path):
    """A fresh incremental consumer (since=None) must keep working after
    old manifests are expired — the current manifest still lists every
    data dir."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3))
    t.append(_mk(spark, 3, 6))
    t.append(_mk(spark, 6, 9))
    t.expire_snapshots(keep_last=1)
    assert t.read_incremental(spark, None).count() == 9


def test_applied_meta_survives_compaction_and_expiration(spark, tmp_path):
    """Compaction carries ancestor commit metadata forward, so idempotence
    markers outlive maintenance — the exactly-once guarantee stays intact."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3), meta={"ingest_batch_id": 0})
    t.append(_mk(spark, 3, 6), meta={"ingest_batch_id": 1})
    t.compact(spark)
    t.expire_snapshots(keep_last=1)  # original marker commits are gone
    assert t.applied_meta("ingest_batch_id") == {0, 1}
    # and a second compaction keeps carrying them
    t.append(_mk(spark, 6, 9), meta={"ingest_batch_id": 2})
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    assert t.applied_meta("ingest_batch_id") == {0, 1, 2}


def test_expire_spares_inflight_commit_dirs(spark, tmp_path):
    """A concurrent writer's data dir (written outside the commit lock,
    not yet manifested) must survive expire_snapshots: deleting it would
    leave the subsequently committed snapshot pointing at missing files.
    Stale markers (crashed writers) ARE garbage-collected past the grace
    window."""
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3))
    t.append(_mk(spark, 3, 6))

    # simulate writer B mid-_commit: marker placed, data written, lock not
    # yet taken (exactly the state between lake._mark_inflight and
    # lake._finish_commit)
    commit_dir = "c_inflight_test_dir"
    t._mark_inflight(commit_dir)
    abs_dir = os.path.join(str(tmp_path / "t"), "data", commit_dir)
    _mk(spark, 6, 9).write.mode("overwrite").parquet(abs_dir)

    deleted = t.expire_snapshots(keep_last=1)
    assert commit_dir not in deleted and os.path.isdir(abs_dir)

    # writer B finishes: the commit must read back whole
    sid = t._finish_commit(commit_dir, "append", None, None)
    assert t.read(spark, snapshot_id=sid).count() == 9
    # marker was cleared by the finished commit
    assert t._inflight_age_s(commit_dir) is None

    # a crashed writer's dir: marker never cleared, grace elapsed → GC'd
    t._mark_inflight("c_crashed_writer")
    os.makedirs(os.path.join(str(tmp_path / "t"), "data", "c_crashed_writer"))
    deleted = t.expire_snapshots(keep_last=1, in_flight_grace_s=0.0)
    assert "c_crashed_writer" in deleted
    assert t.read(spark).count() == 9


def test_expire_gcs_dirless_stale_markers(spark, tmp_path):
    """A marker whose data dir never materialized (writer failed between
    marking and writing) must still be garbage-collected past the grace
    window, or _inflight/ grows without bound."""
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3))
    t._mark_inflight("c_never_written")
    marker = os.path.join(str(tmp_path / "t"), "_inflight", "c_never_written")
    assert os.path.exists(marker)
    t.expire_snapshots(keep_last=1)  # within grace: kept
    assert os.path.exists(marker)
    # a writer that died mid-_mark_inflight leaves a .tmp- file — same GC
    tmp_marker = os.path.join(str(tmp_path / "t"), "_inflight", ".tmp-dead")
    with open(tmp_marker, "w") as f:
        f.write("0.0")
    t.expire_snapshots(keep_last=1, in_flight_grace_s=0.0)
    assert not os.path.exists(marker)
    assert not os.path.exists(tmp_marker)


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: appending a DataFrame with a NEW column keeps
    the table readable as the UNION of fields — old rows read NULL in the
    added column (the Iceberg add-column contract)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 5))
    sid_before = t.current_snapshot_id()
    t.append(
        _mk(spark, 5, 10).withColumn("depth", (F.col("url_hash") % 3).cast("int"))
    )
    got = t.read(spark)
    assert set(got.columns) == {"url_hash", "settled_round", "depth"}
    rows = {r["url_hash"]: r["depth"] for r in got.collect()}
    assert len(rows) == 10
    assert all(rows[h] is None for h in range(5))  # pre-evolution rows
    assert all(rows[h] is not None for h in range(5, 10))
    # time travel to the pre-evolution snapshot keeps the OLD schema
    old = t.read(spark, snapshot_id=sid_before)
    assert set(old.columns) == {"url_hash", "settled_round"}
    # dropping a column = appending without it; new rows read NULL there
    t.append(_mk(spark, 10, 12).select("url_hash"))
    got = t.read(spark)
    assert set(got.columns) == {"url_hash", "settled_round", "depth"}
    srs = {r["url_hash"]: r["settled_round"] for r in got.collect()}
    assert srs[10] is None and srs[0] is not None


def test_schema_evolution_merges_over_legacy_commits(spark, tmp_path):
    """A dir committed before schema recording existed (manifest has no
    entry for it) mixed with a post-upgrade add-column commit must still
    read with mergeSchema — otherwise Spark infers the schema from one
    arbitrary file and the added column can silently vanish."""
    import json

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 5))
    # simulate a legacy manifest: strip the schema record of the first dir
    sid = t.current_snapshot_id()
    mpath = os.path.join(t._snap_dir, f"s{sid:08d}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["schemas"] = {}
    with open(mpath, "w") as f:
        json.dump(m, f)
    t.append(
        _mk(spark, 5, 10).withColumn("depth", (F.col("url_hash") % 3).cast("int"))
    )
    m2 = t._manifest(t.current_snapshot_id())
    assert len(m2["files"]) == 2 and len(m2["schemas"]) == 1  # mixed
    assert t._needs_schema_merge(m2, m2["files"])
    got = t.read(spark)
    assert set(got.columns) == {"url_hash", "settled_round", "depth"}
    rows = {r["url_hash"]: r["depth"] for r in got.collect()}
    assert len(rows) == 10
    assert all(rows[h] is None for h in range(5))  # legacy rows read NULL


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    """Changing an existing column's TYPE must fail loudly at commit time
    (Iceberg allows only explicit promotions), leaving the table intact."""
    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 5))
    bad = _mk(spark, 5, 10).withColumn(
        "settled_round", F.col("settled_round").cast("string")
    )
    with pytest.raises(TypeError, match="settled_round"):
        t.append(bad)
    # the failed commit left no snapshot; the table still reads whole
    assert t.read(spark).count() == 5
    # an OVERWRITE may change types freely (explicit table rewrite)
    t.overwrite(bad)
    assert dict(t.read(spark).dtypes)["settled_round"] == "string"


def test_schema_evolution_incremental_and_compact(spark, tmp_path):
    """Incremental reads spanning an evolution union the delta's schemas;
    compaction rewrites the table to ONE schema carrying the union."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 3))
    mark = t.current_snapshot_id()
    t.append(_mk(spark, 3, 6))
    t.append(_mk(spark, 6, 9).withColumn("depth", F.lit(1).cast("int")))
    inc = t.read_incremental(spark, mark)
    assert set(inc.columns) == {"url_hash", "settled_round", "depth"}
    assert inc.count() == 6
    t.compact(spark)
    [only_dir] = t.data_dirs()
    m = t._manifest(t.current_snapshot_id())
    assert list(m["schemas"]) == [only_dir]  # single post-compaction schema
    got = t.read(spark)
    assert set(got.columns) == {"url_hash", "settled_round", "depth"}
    assert got.count() == 9


def test_per_file_stats_prune_within_commit(spark, tmp_path):
    """A commit whose files have disjoint ranges prunes at FILE granularity:
    the scan reads only the files whose footer min/max intersects."""
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    df = (
        spark.range(0, 400)
        .select(
            F.col("id").alias("url_hash"),
            (F.col("id") % 8).cast("int").alias("settled_round"),
        )
        .repartitionByRange(4, "settled_round")
        .sortWithinPartitions("settled_round")
    )
    t.overwrite(df)
    [d] = t.data_dirs()
    n_files = len(
        [n for n in os.listdir(os.path.join(t._data_dir, d)) if n.endswith(".parquet")]
    )
    assert n_files == 4
    paths, kept = t.scan_paths(prune={"settled_round": (0, 1)})
    assert kept == [d]
    # only the file(s) covering rounds 0-1 survive — not the whole dir
    assert 1 <= len(paths) < n_files
    assert all(p.endswith(".parquet") for p in paths)
    got = t.read(spark, prune={"settled_round": (0, 1)}).filter(
        F.col("settled_round") <= 1
    )
    assert got.count() == 100


def test_compaction_keeps_pruning_effective(spark, tmp_path):
    """After compact() the table is ONE commit dir, so dir-level pruning
    can't skip anything — but the range-sorted rewrite leaves per-file
    footer stats disjoint, so pruned reads still skip files."""
    t = SnapshotTable(str(tmp_path / "t"), stats_cols=["settled_round"])
    t.overwrite(_mk_round(spark, 0, 500, 1))
    for rnd in range(2, 9):
        t.append(_mk_round(spark, (rnd - 1) * 500, rnd * 500, rnd))
    t.compact(spark, target_files=8)
    [d] = t.data_dirs()
    all_paths, _ = t.scan_paths()
    pruned_paths, kept = t.scan_paths(prune={"settled_round": (3, 3)})
    assert kept == [d]
    n_files = len(
        [n for n in os.listdir(os.path.join(t._data_dir, d)) if n.endswith(".parquet")]
    )
    assert len(pruned_paths) < n_files, "post-compaction prune must skip files"
    got = t.read(spark, prune={"settled_round": (3, 3)})
    assert got.filter(F.col("settled_round") == 3).count() == 500
    assert got.count() < 4000  # the scan really was narrower than the table


def _mk_round(spark, lo, hi, rnd):
    return spark.range(lo, hi).select(
        F.col("id").alias("url_hash"), F.lit(rnd).cast("int").alias("settled_round")
    )


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """read(as_of=ts) resolves the latest current-chain ancestor committed
    at or before ts; predating the oldest retained snapshot raises."""
    import time

    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    before_any = time.time()
    with pytest.raises(ValueError, match="no snapshots"):
        t.snapshot_as_of(before_any)
    s1 = t.overwrite(_mk_round(spark, 0, 5, 1))
    after_s1 = time.time()
    s2 = t.append(_mk_round(spark, 5, 9, 2))
    after_s2 = time.time()
    s3 = t.append(_mk_round(spark, 9, 12, 3))

    assert t.snapshot_as_of(after_s1) == s1
    assert t.snapshot_as_of(after_s2) == s2
    assert t.snapshot_as_of(time.time()) == s3
    assert t.read(spark, as_of=after_s2).count() == 9
    assert t.read(spark, as_of=after_s1).count() == 5
    with pytest.raises(ValueError, match="at or before"):
        t.snapshot_as_of(before_any)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, snapshot_id=s1, as_of=after_s1)
    # expired chains refuse time travel past the retained window
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="at or before"):
        t.snapshot_as_of(after_s1)
    assert t.snapshot_as_of(time.time()) == s3


def test_commit_cas_rejects_moved_table(spark, tmp_path):
    """expected_parent CAS (compact's concurrency guard): a commit prepared
    against a snapshot the table has moved past must raise and leave the
    table exactly as the concurrent writer left it — an unconditional
    overwrite would silently erase the interleaved append's rows AND its
    idempotence marker."""
    import pytest

    from web_crawler_spark.sources.lake import CommitConflictError

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(_mk(spark, 0, 5))
    base = t.current_snapshot_id()
    t.append(_mk(spark, 5, 10), meta={"ingest_batch_id": "q1:7"})  # concurrent
    n_dirs = len(os.listdir(t._data_dir))
    with pytest.raises(CommitConflictError):
        t._commit(_mk(spark, 0, 5), "overwrite", expected_parent=base)
    assert t.read(spark).count() == 10
    assert "q1:7" in t.applied_meta("ingest_batch_id")
    # the conflicting writer's data dir was cleaned up, not orphaned
    assert len(os.listdir(t._data_dir)) == n_dirs
    # compact retries cleanly against the new current snapshot
    t.compact(spark)
    assert t.read(spark).count() == 10
    assert "q1:7" in t.applied_meta("ingest_batch_id")  # marker carried


# ---------------------------------------------------------------------------
# the commit protocol: each commit is a put-if-absent of the next manifest
# id. These tests need no Spark session; writers that bypass the flock
# stand for any writer the lock does not cover (another host, a stalled
# holder), so only the put-if-absent keeps their commits.
# ---------------------------------------------------------------------------


def _bypass_lock(t: SnapshotTable) -> SnapshotTable:
    t._commit_lock = contextlib.nullcontext
    return t


def _rows(t: SnapshotTable) -> list[int]:
    """The current snapshot's ``phash`` values, read with pyarrow."""
    import pyarrow.parquet as pq

    m = t._manifest(t.current_snapshot_id())
    return sorted(
        v
        for d in m["files"]
        for v in pq.read_table(os.path.join(t._data_dir, d))["phash"].to_pylist()
    )


class _ArrowSpark:
    """The part of a SparkSession that ``read_incremental`` uses on a
    non-empty delta, answered by pyarrow."""

    @property
    def read(self):
        return self

    def option(self, *_):
        return self

    def parquet(self, *paths):
        import pyarrow as pa
        import pyarrow.parquet as pq

        return pa.concat_tables(pq.read_table(p) for p in paths)


def test_stalled_writer_rechains_onto_the_commit_it_missed(tmp_path):
    """A pauses just after it reads its parent; B commits meanwhile. A's
    commit must land on top of B's: B's row survives."""
    path = str(tmp_path / "t")
    a, b = _bypass_lock(SnapshotTable(path)), SnapshotTable(path)
    a.append_local([{"phash": 1}], PHASH_SEEN)
    read_parent = a.current_snapshot_id
    stalled: list[int] = []

    def stall_after_read():
        sid = read_parent()
        if not stalled:
            stalled.append(sid)
            b.append_local([{"phash": 2}], PHASH_SEEN)
        return sid

    a.current_snapshot_id = stall_after_read
    sid = a.append_local([{"phash": 3}], PHASH_SEEN)
    assert stalled == [1]
    assert (sid, a._manifest(sid)["parent"]) == (3, 2)
    assert _rows(b) == [1, 2, 3]


def test_stalled_writer_never_lands_in_an_expired_id(tmp_path):
    """A reads head 3's manifest and pauses; B commits s4 and s5, and
    expiry deletes s1-s4. A's link to the freed ``s00000004.json`` succeeds,
    but s5 was not built on it: A must withdraw it and land on top of s5,
    with every row kept."""
    path = str(tmp_path / "t")
    a, b = _bypass_lock(SnapshotTable(path)), SnapshotTable(path)
    for v in (1, 2, 3):
        b.append_local([{"phash": v}], PHASH_SEEN)
    read_manifest = a._manifest
    stalled: list[int] = []

    def expire_after_read(sid):
        m = read_manifest(sid)
        if not stalled:
            stalled.append(sid)
            for v in (4, 5):
                b.append_local([{"phash": v}], PHASH_SEEN)
            b.expire_snapshots(keep_last=1)
        return m

    a._manifest = expire_after_read
    sid = a.append_local([{"phash": 6}], PHASH_SEEN)
    assert stalled == [3]
    assert sid == b.current_snapshot_id() == 6
    assert b._manifest(6)["parent_uid"] == b._manifest(5)["uid"]
    assert _rows(b) == [1, 2, 3, 4, 5, 6]
    assert sorted(os.listdir(b._snap_dir)) == ["s00000005.json", "s00000006.json"]


def test_unlocked_writers_lose_no_row(tmp_path):
    """8 threads x 25 ``append_local`` with the lock bypassed: the current
    snapshot holds every row appended, and no writer fails. A short switch
    interval makes the threads interleave inside the publish."""
    import sys
    import threading

    path = str(tmp_path / "t")
    handles = [_bypass_lock(SnapshotTable(path)) for _ in range(8)]
    barrier = threading.Barrier(len(handles))
    errs: list = []

    def writer(h, base):
        barrier.wait()
        try:
            for i in range(25):
                h.append_local([{"phash": base * 100 + i}], PHASH_SEEN)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(h, n)) for n, h in enumerate(handles)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errs
    t = SnapshotTable(path)
    assert _rows(t) == sorted(b * 100 + i for b in range(8) for i in range(25))
    assert t.current_snapshot_id() == 200


def test_expire_keeps_a_commit_published_while_it_runs(tmp_path):
    """A commit (lock bypassed) lands just after ``expire_snapshots`` read
    the current id: its manifest and its data dir survive the expiry."""
    path = str(tmp_path / "t")
    t = SnapshotTable(path)
    for v in (1, 2, 3):
        t.append_local([{"phash": v}], PHASH_SEEN)
    w = _bypass_lock(SnapshotTable(path))
    read_current = t.current_snapshot_id
    landed: list[int] = []

    def read_then_commit():
        sid = read_current()
        if not landed:
            landed.append(w.append_local([{"phash": 4}], PHASH_SEEN))
        return sid

    t.current_snapshot_id = read_then_commit
    t.expire_snapshots(keep_last=1)
    assert landed == [4] and w.current_snapshot_id() == 4
    assert _rows(w) == [1, 2, 3, 4]
    assert sorted(os.listdir(w._data_dir)) == sorted(w._manifest(4)["files"])


def test_rollback_is_a_commit_incremental_reads_see_through(tmp_path):
    """``rollback(s2)`` on s1 -> s2 -> s3 publishes a new snapshot with s2's
    files; ``read_incremental(s1)`` then returns exactly s2's rows, and s3
    is no longer an ancestor."""
    t = SnapshotTable(str(tmp_path / "t"))
    s1, s2, s3 = (t.append_local([{"phash": v}], PHASH_SEEN) for v in (1, 2, 3))
    r = t.rollback(s2)
    m = t._manifest(r)
    assert t.current_snapshot_id() == r > s3
    assert (m["op"], m["parent"], m["files"]) == (
        "rollback", s2, t._manifest(s2)["files"]
    )
    got = t.read_incremental(_ArrowSpark(), s1)
    assert got["phash"].to_pylist() == [2]
    with pytest.raises(ValueError, match="not an ancestor"):
        t.read_incremental(_ArrowSpark(), s3)


def test_expire_removes_stale_temp_manifests(tmp_path):
    """A crash between the temp write and the link leaves
    ``snapshots/.tmp-*``; expiry removes it once it is older than the
    grace window and leaves a younger one (a commit in progress)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append_local([{"phash": 1}], PHASH_SEEN)
    assert os.listdir(t._snap_dir) == ["s00000001.json"]
    stale, fresh = (
        os.path.join(t._snap_dir, f".tmp-{n}") for n in ("stale", "fresh")
    )
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{")
    back = time.time() - 7200
    os.utime(stale, (back, back))
    t.expire_snapshots(in_flight_grace_s=3600)
    assert sorted(os.listdir(t._snap_dir)) == [".tmp-fresh", "s00000001.json"]
    assert t.current_snapshot_id() == 1
