"""Streaming pair admission: gates + within-batch prune + cross-batch
near-dup suppression against the admitted index, exactly-once appends."""

from __future__ import annotations

import os

import pandas as pd

from web_crawler_spark.functions import images as I
from web_crawler_spark.schemas import ADMITTED_PAIRS
from web_crawler_spark.sources.lake import SnapshotTable
from web_crawler_spark.streaming.pair_stream import (
    admit_pair_batch,
    admit_pair_stream,
)

GOOD_EN = (
    "the quick brown fox jumps over the lazy dog and runs far away home again"
)


def _blob(mid: str, side: int = 32) -> bytes:
    return I.encode_image(I.render_pixels(mid, side, side), "png")


def _write_pairs(path: str, rows: list[tuple], mtime: float) -> None:
    pd.DataFrame(rows, columns=["pair_id", "bytes", "caption"]).to_parquet(path)
    os.utime(path, (mtime, mtime))  # file source orders batches by mtime


def _make_stream_dirs(tmp_path):
    pairs_dir = tmp_path / "pairs"
    pairs_dir.mkdir()
    batch1 = [
        ("imgA", _blob("imgA"), GOOD_EN),          # rep of the {A, A~d1} cluster
        ("imgA~d1", _blob("imgA~d1"), GOOD_EN),    # within-batch near-dup
        ("imgC", _blob("imgC"), GOOD_EN),          # unique survivor
        ("imgD", b"corrupt", GOOD_EN),             # decode gate
        ("imgE", _blob("imgE"), "kurz"),           # caption gates
    ]
    batch2 = [
        ("imgA~d2", _blob("imgA~d2"), GOOD_EN),    # cross-batch near-dup of imgA
        ("imgG", _blob("imgG"), GOOD_EN),          # novel survivor
    ]
    _write_pairs(str(pairs_dir / "b1.parquet"), batch1, 1_000_000_000.0)
    _write_pairs(str(pairs_dir / "b2.parquet"), batch2, 1_000_000_100.0)
    return pairs_dir


def test_pair_stream_admits_curated_first_wins(spark, tmp_path):
    """Two micro-batches: gates drop corrupt/bad-caption rows, the within-
    batch near-dup collapses to its lexicographic-min representative, and a
    later batch's near-dup of an ALREADY-ADMITTED pair is rejected
    (first-admitted-wins across batches)."""
    from tests.conftest import leaked_blocks, storage_block_ids

    pairs_dir = _make_stream_dirs(tmp_path)
    table = SnapshotTable(str(tmp_path / "admitted"))

    before = storage_block_ids(spark)
    q = admit_pair_stream(
        spark, str(pairs_dir), table, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    got = {
        r["pair_id"]: r
        for r in table.read(spark, schema=ADMITTED_PAIRS).collect()
    }
    assert set(got) == {"imgA", "imgC", "imgG"}
    assert got["imgA"]["phash"] == I.phash64(I.render_pixels("imgA", 32, 32))
    assert got["imgA"]["lang"] == "en" and got["imgA"]["ws_tokens"] == 15
    # a long-running stream must not accrue storage across micro-batches:
    # every per-batch checkpoint (metrics frame, component labels) is
    # released once the admitted append materializes (releases are
    # non-blocking, so poll with a deadline rather than snapshot-assert)
    leaked = leaked_blocks(spark, before)
    assert not leaked, f"stream leaked storage blocks: {leaked}"


def test_pair_batch_replay_is_exactly_once(spark, tmp_path):
    """A replayed batch_id (crash between append and offset commit) must be
    skipped: the marker rides in the same commit as the rows."""
    table = SnapshotTable(str(tmp_path / "admitted"))
    rows = [("imgX", _blob("imgX"), GOOD_EN), ("imgY", _blob("imgY"), GOOD_EN)]
    batch = spark.createDataFrame(rows, "pair_id string, bytes binary, caption string")
    admit_pair_batch(batch, 0, table)
    n1 = table.read(spark, schema=ADMITTED_PAIRS).count()
    admit_pair_batch(batch, 0, table)  # replay
    assert table.read(spark, schema=ADMITTED_PAIRS).count() == n1 == 2
    # a NEW batch that near-dups an admitted pair is still rejected
    batch2 = spark.createDataFrame(
        [("imgX~d1", _blob("imgX~d1"), GOOD_EN)],
        "pair_id string, bytes binary, caption string",
    )
    admit_pair_batch(batch2, 1, table)
    ids = {r["pair_id"] for r in table.read(spark, schema=ADMITTED_PAIRS).collect()}
    assert ids == {"imgX", "imgY"}


def test_pair_stream_restart_drains_only_new_files(spark, tmp_path):
    """Restarting the stream over the same directory is a no-op; a new file
    is picked up and admitted incrementally against the existing index."""
    pairs_dir = _make_stream_dirs(tmp_path)
    table = SnapshotTable(str(tmp_path / "admitted"))
    for _ in range(2):  # second run: no new files, no new commits
        q = admit_pair_stream(
            spark, str(pairs_dir), table, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(120)
    base_ids = {
        r["pair_id"] for r in table.read(spark, schema=ADMITTED_PAIRS).collect()
    }
    assert base_ids == {"imgA", "imgC", "imgG"}
    # late file: another near-dup of imgA (rejected) + a novel pair
    _write_pairs(
        str(pairs_dir / "b3.parquet"),
        [("imgA~d3", _blob("imgA~d3"), GOOD_EN), ("imgH", _blob("imgH"), GOOD_EN)],
        1_000_000_200.0,
    )
    q = admit_pair_stream(
        spark, str(pairs_dir), table, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    ids = {r["pair_id"] for r in table.read(spark, schema=ADMITTED_PAIRS).collect()}
    assert ids == base_ids | {"imgH"}


def test_single_batch_admission_matches_batch_curation(spark, tmp_path):
    """On ONE batch (no admitted history) the stream body and the batch
    operator are the same algorithm — gates, within-batch prune with the
    lexicographic-min representative — so the admitted set must equal the
    batch operator's kept_* survivors exactly. Cross-batch behavior
    intentionally diverges (first-admitted-wins); this pins the shared
    core so the two paths cannot drift."""
    from web_crawler_spark.operators.multimodal import curate_pairs

    rows = [
        ("imgA", _blob("imgA"), GOOD_EN),
        ("imgA~d1", _blob("imgA~d1"), GOOD_EN),   # near-dup of imgA
        ("imgB", _blob("imgB"), GOOD_EN),
        ("imgB~d1", _blob("imgB~d1"), GOOD_EN),   # near-dup of imgB
        ("imgC", _blob("imgC"), GOOD_EN),
        ("imgD", b"corrupt", GOOD_EN),            # decode gate
        ("imgE", _blob("imgE"), "kurz"),          # caption gates
        ("imgF", _blob("imgF", side=8), GOOD_EN), # too_small
        ("imgG", _blob("imgG"), None),            # missing caption
    ]
    df = spark.createDataFrame(rows, "pair_id string, bytes binary, caption string")

    table = SnapshotTable(str(tmp_path / "admitted"))
    admit_pair_batch(df, 0, table)
    admitted = {
        r["pair_id"] for r in table.read(spark, schema=ADMITTED_PAIRS).collect()
    }

    cur = curate_pairs(
        df, id_col="pair_id", bytes_col="bytes", caption_col="caption"
    ).collect()
    kept = {
        r["pair_id"]
        for r in cur
        if r["verdict"] in ("kept_representative", "kept_unique")
    }
    assert admitted == kept
    assert admitted == {"imgA", "imgB", "imgC"}
