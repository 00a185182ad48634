"""The membership tier (Bloom words table + derived hot tier) wired into the
round: exactness invariance, prefilter routing, lineage strata, resume with
tiers (including checkpoints of other families and from before the tier
state moved into checkpoint.json)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators.bloom import WORDS_SCHEMA
from web_crawler_spark.operators.membership import TableSeenTiers
from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
from web_crawler_spark.schemas import FETCH_LOG, LINEAGE, SEEN
from web_crawler_spark.sources.fixtures import generate_site, load_fixture
from web_crawler_spark.sources.lake import SnapshotTable
from web_crawler_spark.sources.seeds import read_seeds


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tier-fixture"))
    generate_site(d, n_pages=150, n_hosts=10, n_seeds=6, neardup_rate=0.08)
    return d


def _run(spark, fixture_dir, run_dir, use_bloom):
    return CrawlRun(
        spark,
        run_dir,
        urls=load_fixture(spark, fixture_dir, "urls"),
        links=load_fixture(spark, fixture_dir, "links"),
        pages=load_fixture(spark, fixture_dir, "pages"),
        robots=load_fixture(spark, fixture_dir, "robots"),
        config=CrawlConfig(
            default_host_budget=3, max_rounds=5, use_bloom=use_bloom, flush_every=2
        ),
    )


def _crawl(spark, fixture_dir, run_dir, use_bloom):
    run = _run(spark, fixture_dir, run_dir, use_bloom)
    run.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
    metrics = run.run(until_empty=True)
    return run, metrics


@pytest.fixture(scope="module")
def plain(spark, fixture_dir, tmp_path_factory):
    """One exact-only crawl, shared by every test that compares against it."""
    return _crawl(spark, fixture_dir, str(tmp_path_factory.mktemp("plain")), False)


@pytest.fixture(scope="module")
def tiered(spark, fixture_dir, tmp_path_factory):
    """One uninterrupted tiered crawl, shared by equivalence, lineage and
    both resume tests."""
    return _crawl(spark, fixture_dir, str(tmp_path_factory.mktemp("tiers")), True)


def _log_rows(spark, run):
    return sorted(
        map(
            tuple,
            run.fetch_log_t.read(spark, schema=FETCH_LOG)
            .select("round", "fetch_seq", "url", "status")
            .collect(),
        )
    )


def _seen_hashes(spark, run):
    return sorted(
        r["url_hash"] for r in run.seen_t.read(spark, schema=SEEN).collect()
    )


def test_tiers_do_not_change_results(spark, plain, tiered):
    """The crawl with the membership tier enabled must produce the identical
    fetch log and seen set as the exact-only crawl (the north rule's
    exactness requirement), while actually routing rows through the
    prefilter."""
    r_plain, _ = plain
    r_tiers, m_tiers = tiered
    assert _log_rows(spark, r_plain) == _log_rows(spark, r_tiers)
    assert _seen_hashes(spark, r_plain) == _seen_hashes(spark, r_tiers)
    # the prefilter actually engaged: later rounds see tier positives
    # (re-discovered URLs already settled) and negatives (fresh URLs)
    later = [m for m in m_tiers if m["round"] >= 2]
    assert any(m["rows_tier_negative"] > 0 for m in later)
    assert any(m["rows_tier_positive"] > 0 for m in later)


def test_table_tier_equals_distributed(spark, plain, tiered):
    """The words-table tier (the 10^10 configuration where the filter fits
    neither driver nor broadcast) must crawl byte-identically to the
    distributed reference — the exact-only crawl, now that the broadcast
    tier is gone — while keeping the blob bytes out of the driver (its
    state in checkpoint.json stays tiny, and no sidecar file exists)."""
    r_plain, _ = plain
    r_tbl, m_tbl = tiered
    assert isinstance(r_tbl.tiers, TableSeenTiers)
    assert _log_rows(spark, r_plain) == _log_rows(spark, r_tbl)
    assert _seen_hashes(spark, r_plain) == _seen_hashes(spark, r_tbl)
    # the prefilter engaged through the blob table
    later = [m for m in m_tbl if m["round"] >= 2]
    assert any(m["rows_tier_negative"] > 0 for m in later)
    assert any(m["rows_tier_positive"] > 0 for m in later)
    # flushes landed as blob rows in the snapshot table, and the tier
    # state carries metadata only (sizing + watermark + sid — no blobs)
    blobs = r_tbl.tiers.blob_table.read(spark, schema=WORDS_SCHEMA).collect()
    assert len(blobs) > 0
    state = r_tbl.checkpoint_state()["tiers"]
    assert set(state) == {
        "family", "sizing", "flushed_round", "flush_every", "table_sid"
    }
    assert len(json.dumps(state)) < 1024
    assert glob.glob(os.path.join(r_tbl.run_dir, "**", "*.pkl"), recursive=True) == []


def test_tier_kind_accepts_only_the_table_tier():
    """tier_kind is single-valued; a removed or misspelled kind fails when
    the config is built, not rounds later."""
    assert CrawlConfig(tier_kind="table").tier_kind == "table"
    assert CrawlConfig().tier_kind is None
    for bad in ("distributed", "driver", "Table"):
        with pytest.raises(ValueError, match="tier_kind"):
            CrawlConfig(tier_kind=bad)


def test_resume_rolls_back_table_tier_blobs(spark, fixture_dir, tiered, tmp_path_factory):
    """Crash after an uncheckpointed blob-table commit: resume must roll the
    blob table back to the checkpointed snapshot and finish identically to
    an uninterrupted run."""
    r_full, _ = tiered
    d_int = str(tmp_path_factory.mktemp("tbl-int"))
    run1 = _run(spark, fixture_dir, d_int, True)
    run1.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
    run1.run_round()
    run1.run_round()  # flush_every=2 → the blob table has a real flush
    good_sid = run1.tiers.blob_table.current_snapshot_id()
    # crash mid-round-3 AFTER its flush committed but BEFORE the round
    # checkpoint: fake the partial flush with a poison blob commit
    run1.tiers.blob_table.overwrite_local(
        [{"pkey": 0, "words": [-1, -1]}], WORDS_SCHEMA
    )
    run2 = _run(spark, fixture_dir, d_int, True)
    assert run2.resume() == 2
    assert isinstance(run2.tiers, TableSeenTiers)
    blob = run2.tiers.blob_table
    assert (
        blob._manifest(blob.current_snapshot_id())["files"]
        == blob._manifest(good_sid)["files"]
    )
    run2.run(until_empty=True)
    assert _log_rows(spark, r_full) == _log_rows(spark, run2)


def test_lineage_strata_sum_to_metrics(spark, tiered):
    run, metrics = tiered
    lin = run.lineage_t.read(spark, schema=LINEAGE)
    per_round = {
        r["round"]: (r["s_in"], r["s_sel"], r["s_ok"])
        for r in lin.groupBy("round")
        .agg(
            F.sum("rows_in").alias("s_in"),
            F.sum("rows_selected").alias("s_sel"),
            F.sum("rows_fetched_ok").alias("s_ok"),
        )
        .collect()
    }
    for m in metrics:
        got = per_round.get(m["round"], (0, 0, 0))
        assert got == (m["rows_in"], m["rows_selected"], m["rows_fetched_ok"])
    # strata are real: at least one round spreads over several partitions
    spread = lin.filter(F.col("rows_in") > 0).groupBy("round").count().collect()
    assert any(r["count"] > 1 for r in spread)


def test_resume_restores_tiers(spark, fixture_dir, tiered, tmp_path_factory):
    """Kill after round 2, resume: the tier state (watermark) is restored
    from checkpoint.json. Then replace that state with one of another hash
    family, and with a checkpoint written before the state moved into
    checkpoint.json (a ``tiers_file`` key, no ``tiers``) — the blob
    table's bits must NOT be trusted (trusting another family's bits with
    its watermark could re-fetch settled URLs); the reset path makes the
    exact hot slice cover the whole seen set, and each finished run
    equals the uninterrupted one."""
    r_full, _ = tiered
    d_int = str(tmp_path_factory.mktemp("interrupted"))
    run1 = _run(spark, fixture_dir, d_int, True)
    run1.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
    run1.run_round()
    run1.run_round()
    # "crash": new object over the same run_dir, resume from checkpoint
    run2 = _run(spark, fixture_dir, d_int, True)
    assert run2.resume() == 2
    assert isinstance(run2.tiers, TableSeenTiers)
    assert run2.tiers.flushed_round == 2
    round2 = run2.checkpoint_state()
    cases = {
        "other family": {**round2, "tiers": {**round2["tiers"], "family": "km0"}},
        "before the move": {
            **{k: v for k, v in round2.items() if k != "tiers"},
            "tiers_file": os.path.join(d_int, "tiers-2.pkl"),
        },
    }
    for case, state in cases.items():
        # every case resumes from round 2's checkpoint and its tables
        with open(os.path.join(d_int, "checkpoint.json"), "w") as f:
            json.dump(state, f)
        run3 = _run(spark, fixture_dir, d_int, True)
        assert run3.resume() == 2
        assert run3.tiers.flushed_round == 0, case
        assert run3.tiers.blob_table.read(spark, schema=WORDS_SCHEMA).count() == 0
        run3.run(until_empty=True)
        assert _log_rows(spark, r_full) == _log_rows(spark, run3), case
        # keys the engine no longer writes are not carried forward
        assert "tiers_file" not in run3.checkpoint_state(), case


def _seen_table(spark, path, rounds: dict[int, range]) -> SnapshotTable:
    seen_t = SnapshotTable(path, stats_cols=["settled_round"])
    seen_t.overwrite_local([], SEEN)
    for rnd, ids in rounds.items():
        seen_t.append(
            spark.createDataFrame([(i,) for i in ids], "id long").select(
                F.xxhash64(F.col("id")).alias("url_hash"),
                F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("url"),
                F.lit(rnd).cast("int").alias("settled_round"),
            )
        )
    return seen_t


def test_seen_tiers_unit(spark, tmp_path):
    """Hot slice → flush handoff: keys settled after the watermark are
    positives through the derived hot tier before the flush, and through
    the blob table after it; fresh keys are (almost all) negatives."""
    seen_t = _seen_table(
        spark, str(tmp_path / "seen"), {1: range(1000, 1100), 2: range(1100, 1200)}
    )
    tiers = TableSeenTiers(
        str(tmp_path / "bloom"), expected_keys=1 << 12, flush_every=2
    )
    tiers.init_table()
    settled, fresh = list(range(1000, 1200)), list(range(900, 1000))
    df = spark.range(900, 1200).select(
        F.col("id").alias("key"), F.xxhash64(F.col("id")).alias("url_hash")
    )

    def probe():
        rows = tiers.probe(df, spark, seen_t).collect()
        return {r["key"]: r["might_contain"] for r in rows}

    before = probe()  # empty blob table: the hot tier alone answers
    assert all(before[h] for h in settled)
    assert not any(before[h] for h in fresh)
    tiers.end_round(1, seen_t, spark)  # 1 round since watermark 0: no flush
    assert tiers.flushed_round == 0
    tiers.end_round(2, seen_t, spark)
    assert tiers.flushed_round == 2
    assert tiers.hot_slice(spark, seen_t).count() == 0
    after = probe()  # empty hot slice: the blob table alone answers
    assert all(after[h] for h in settled)
    assert sum(after[h] for h in fresh) <= 5


def test_table_tier_million_row_flush_zero_driver_rows(spark, tmp_path, monkeypatch):
    """The blobs-as-a-table tier at 10^6 rows: flush and probe must move
    ZERO rows through DataFrame.collect (the blobs go table→table), and the
    driver-side blob dict stays empty. No false negatives, tiny fp rate."""
    try:  # Spark 4.x: the concrete (classic) DataFrame overrides the base
        import pyspark.sql.classic.dataframe as D
    except ImportError:  # pragma: no cover — Spark 3.x layout
        import pyspark.sql.dataframe as D

    n, P = 1_000_000, 32
    seen_t = SnapshotTable(str(tmp_path / "seen"), stats_cols=["settled_round"])
    settled = spark.range(n).select(
        F.xxhash64(F.col("id")).alias("url_hash"),
        F.concat(F.lit("https://h.example.com/p/"), F.col("id").cast("string")).alias("url"),
        F.lit(1).cast("int").alias("settled_round"),
    )
    seen_t.overwrite(settled.select([f.name for f in SEEN.fields]))

    tiers = TableSeenTiers(
        str(tmp_path / "bloom"), expected_keys=2 * n,
        bloom_partitions=P, flush_every=1,
    )
    tiers.init_table()

    sizes: list[int] = []
    orig_collect = D.DataFrame.collect

    def counting_collect(self):
        rows = orig_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(D.DataFrame, "collect", counting_collect)

    tiers.end_round(1, seen_t, spark)  # flush: blob table → blob table
    assert tiers.flushed_round == 1
    flush_sizes = list(sizes)

    probe = spark.range(n // 2, n + n // 2).select(
        F.col("id").alias("key"), F.xxhash64(F.col("id")).alias("url_hash")
    )
    probed = tiers.probe(probe, spark, seen_t)
    agg = probed.agg(
        F.count_if(F.col("might_contain") & (F.col("key") < n)).alias("hits"),
        F.count_if(~F.col("might_contain") & (F.col("key") < n)).alias("false_neg"),
        F.count_if(F.col("might_contain") & (F.col("key") >= n)).alias("fp"),
        F.count_if(F.col("key") >= n).alias("fresh"),
    ).collect()[0]

    monkeypatch.setattr(D.DataFrame, "collect", orig_collect)

    assert agg["false_neg"] == 0
    assert agg["hits"] == n // 2
    assert agg["fp"] / agg["fresh"] < 0.01
    # the flush collected NOTHING (stats come from parquet footers, blobs
    # never leave the cluster) and the driver never held a blob
    assert flush_sizes == []
    assert tiers.bloom.blobs == {}
    # the blob table holds the P partition blobs
    assert tiers.blob_table.read(spark).count() == P


def test_tiered_frontier_round_matches_untiered(spark):
    """bench.frontier_throughput runs the round's own ``schedule`` over a
    generated frontier; with the tier (dedupe -> JVM words probe -> exact
    confirm of positives -> per-host select) it must select exactly the
    url_hashes the untiered schedule selects: the membership tier moves
    work, never the answer. 7,976 is the selection of the hand-kept bench
    plan this job replaced, over the same generated input. The bench
    releases every frame ``schedule`` persisted."""
    import sys

    from tests.conftest import leaked_blocks, storage_block_ids

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    before = storage_block_ids(spark)
    _, sel_plain = bench.frontier_throughput(spark, 200_000)
    _, sel_tiered = bench.frontier_throughput(spark, 200_000, tiered=True)
    assert sel_plain == sel_tiered
    assert len(sel_plain) == 7_976
    assert not leaked_blocks(spark, before)
