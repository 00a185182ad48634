"""The crawl loop under Structured Streaming (VERDICT r1 #9 done-criteria):
2+ micro-batch rounds driven via foreachBatch must be byte-identical to the
batch loop, replays must be skipped (exactly-once), and the stateful
politeness gate must bound frontier admission across micro-batches."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
from web_crawler_spark.schemas import FETCH_LOG, FRONTIER, METRICS
from web_crawler_spark.sources.fixtures import generate_site, load_fixture
from web_crawler_spark.sources.lake import SnapshotTable
from web_crawler_spark.sources.seeds import read_seeds
from web_crawler_spark.streaming.crawl_stream import (
    crawl_round_stream,
    ingest_gated_candidates,
)

N_ROUNDS = 3


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream-site"))
    generate_site(d, n_pages=100, n_hosts=6, n_seeds=5, neardup_rate=0.1)
    return d


def _raw_run(spark, fixture_dir, run_dir, **cfg):
    return CrawlRun(
        spark,
        run_dir,
        urls=load_fixture(spark, fixture_dir, "urls"),
        links=load_fixture(spark, fixture_dir, "links"),
        pages=load_fixture(spark, fixture_dir, "pages"),
        robots=load_fixture(spark, fixture_dir, "robots"),
        config=CrawlConfig(default_host_budget=3, max_rounds=10, **cfg),
    )


def _new_run(spark, fixture_dir, run_dir, **cfg):
    run = _raw_run(spark, fixture_dir, run_dir, **cfg)
    run.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
    return run


def _assert_frontier_schema(t):
    """Every live commit of frontier table ``t`` was written with exactly
    FRONTIER's columns and types (the manifest records each commit's)."""
    want = [[f.name, f.dataType.simpleString()] for f in FRONTIER]
    schemas = t._manifest(t.current_snapshot_id())["schemas"]
    assert schemas and all(e == want for e in schemas.values())


def _log(spark, run):
    return sorted(
        map(
            tuple,
            run.fetch_log_t.read(spark, schema=FETCH_LOG)
            .select("round", "fetch_seq", "url", "status", "error_code", "psnr_db")
            .collect(),
        )
    )


def test_streamed_rounds_byte_identical_to_batch_loop(
    spark, fixture_dir, tmp_path_factory
):
    batch_run = _new_run(spark, fixture_dir, str(tmp_path_factory.mktemp("batch")))
    for _ in range(N_ROUNDS):
        batch_run.run_round()

    stream_run = _new_run(spark, fixture_dir, str(tmp_path_factory.mktemp("stream")))
    tmp = tmp_path_factory.mktemp("ticks")
    ticks = tmp / "ticks"
    ticks.mkdir()
    for i in range(N_ROUNDS):  # one tick file == one micro-batch == one round
        (ticks / f"t{i}.csv").write_text(f"{i}\n")
    q = crawl_round_stream(
        spark, stream_run, str(ticks), str(tmp / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    assert stream_run.round == N_ROUNDS
    assert _log(spark, stream_run) == _log(spark, batch_run)
    sm = stream_run.metrics_t.read(spark, schema=METRICS).orderBy("round").collect()
    bm = batch_run.metrics_t.read(spark, schema=METRICS).orderBy("round").collect()
    assert [tuple(r) for r in sm] == [tuple(r) for r in bm]

    # exactly-once: the batch-id marker rides in the round's final atomic
    # checkpoint; a second stream over the same ticks has no new files and
    # re-applying an already-recorded batch id is a no-op
    assert stream_run.checkpoint_state().get("stream_batch_id") == N_ROUNDS - 1
    before = stream_run.round
    q2 = crawl_round_stream(
        spark, stream_run, str(ticks), str(tmp / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert stream_run.round == before  # replay window: no extra round ran

    # crash-mid-round replay: simulate a previous attempt that died after
    # appending to fetch_log but before the checkpoint — the next tick must
    # roll the partial commits back and run the round cleanly (no dupes)
    bogus = stream_run.fetch_log_t.read(spark, schema=FETCH_LOG).limit(1)
    stream_run.fetch_log_t.append(bogus)
    assert stream_run.dirty_vs_checkpoint()
    (ticks / f"t{N_ROUNDS}.csv").write_text(f"{N_ROUNDS}\n")
    q3 = crawl_round_stream(
        spark, stream_run, str(ticks), str(tmp / "ckpt"), available_now=True
    )
    q3.awaitTermination(120)
    assert stream_run.round == before + 1
    assert not stream_run.dirty_vs_checkpoint()
    log_now = stream_run.fetch_log_t.read(spark, schema=FETCH_LOG)
    # the bogus partial append was rolled back: the duplicated
    # (round, fetch_seq) pair it introduced must be gone — every fetched
    # (round, fetch_seq>0) pair is unique again
    dupes = (
        log_now.filter(F.col("fetch_seq") > 0)
        .groupBy("round", "fetch_seq")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_stream_restart_with_clean_checkpoint_resumes_round_counter(
    spark, fixture_dir, tmp_path_factory
):
    """ADVICE r2 #2: a process restart hands the stream a brand-new CrawlRun
    (round=0, tier at watermark 0) over a CLEAN checkpoint — no table is
    dirty, so the old code never resumed and renumbered rounds from 1
    (duplicate round values in metrics/fetch_log). The restarted stream
    must instead adopt the on-disk round counter and tier state before
    its first round."""
    run_dir = str(tmp_path_factory.mktemp("restart-run"))
    tmp = tmp_path_factory.mktemp("restart-aux")
    ticks = tmp / "ticks"
    ticks.mkdir()
    run = _new_run(spark, fixture_dir, run_dir, use_bloom=True, flush_every=2)
    for i in range(2):
        (ticks / f"t{i}.csv").write_text(f"{i}\n")
    q = crawl_round_stream(spark, run, str(ticks), str(tmp / "ckpt"))
    q.awaitTermination(300)
    assert run.round == 2
    assert run.checkpoint_state()["tiers"] is not None

    # "process restart": fresh CrawlRun object, same run_dir + stream ckpt;
    # tables are exactly at the checkpoint (nothing dirty)
    run2 = _raw_run(spark, fixture_dir, run_dir, use_bloom=True, flush_every=2)
    assert run2.round == 0 and run2.tiers is not None
    assert run2.tiers.flushed_round == 0
    assert not run2.dirty_vs_checkpoint()
    (ticks / "t2.csv").write_text("2\n")
    q2 = crawl_round_stream(spark, run2, str(ticks), str(tmp / "ckpt"))
    q2.awaitTermination(300)
    # the new round continued the numbering and the tier state survived
    assert run2.round == 3
    # the tier state was adopted: round 2's flush watermark, not the
    # fresh object's 0 (round 3 does not flush at flush_every=2)
    assert run2.tiers.flushed_round == 2
    assert run2.tiers.state() == run2.checkpoint_state()["tiers"]
    m = run2.metrics_t.read(spark, schema=METRICS).select("round").collect()
    assert sorted(r["round"] for r in m) == [1, 2, 3]  # no renumbering


def test_batch_round_preserves_stream_marker(spark, fixture_dir, tmp_path_factory):
    """ADVICE r2 #3: driving a round WITHOUT checkpoint_extra (plain batch
    call) must not drop a previously persisted stream_batch_id — otherwise
    a later stream restart sees marker=-1 and re-executes an applied
    micro-batch. A fresh start() in the same run_dir DOES reset it (new
    crawl, new marker history)."""
    run_dir = str(tmp_path_factory.mktemp("mixed-run"))
    tmp = tmp_path_factory.mktemp("mixed-aux")
    ticks = tmp / "ticks"
    ticks.mkdir()
    run = _new_run(spark, fixture_dir, run_dir)
    _assert_frontier_schema(run.frontier_t)
    (ticks / "t0.csv").write_text("0\n")
    q = crawl_round_stream(spark, run, str(ticks), str(tmp / "ckpt"))
    q.awaitTermination(300)
    assert run.checkpoint_state()["stream_batch_id"] == 0
    run.run_round()  # batch driving in between
    _assert_frontier_schema(run.frontier_t)
    assert run.checkpoint_state()["stream_batch_id"] == 0  # marker survives
    run.maintain(keep_last=4)
    assert run.checkpoint_state()["stream_batch_id"] == 0
    # a brand-new crawl in the same run_dir starts a new marker history
    run.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
    assert "stream_batch_id" not in run.checkpoint_state()


def test_gated_candidate_ingest_bounds_frontier_per_host(spark, tmp_path):
    cand = tmp_path / "cand"
    cand.mkdir()
    base = dt.datetime(2026, 1, 1)
    schema = "host string, url string, ts timestamp"
    rows1 = [("h1.com", f"https://h1.com/{i}", base + dt.timedelta(seconds=i)) for i in range(4)]
    rows2 = [("h1.com", f"https://h1.com/{i}", base + dt.timedelta(seconds=i)) for i in range(4, 8)]
    rows2 += [("h2.com", f"https://h2.com/{i}", base + dt.timedelta(seconds=i)) for i in range(3)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(str(cand / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("overwrite").parquet(str(cand / "f2"))

    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    q = ingest_gated_candidates(
        spark,
        str(cand / "*"),
        frontier,
        str(tmp_path / "ck"),
        budget_per_host=5,
        available_now=True,
    )
    q.awaitTermination(300)
    rows = frontier.read(spark, schema=FRONTIER).collect()
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    # the lifetime budget binds across the two micro-batches
    assert len(by_host["h1.com"]) == 5
    assert len(by_host["h2.com"]) == 3
    # earlier admission → strictly higher priority (deterministic rounds)
    pr = [r["priority"] for r in sorted(by_host["h1.com"], key=lambda r: r["url"])]
    assert pr == sorted(pr, reverse=True)
    assert all(r["depth"] == 1 for r in rows)
    _assert_frontier_schema(frontier)


def test_stream_restart_in_round_zero_window_keeps_tiers(
    spark, fixture_dir, tmp_path_factory
):
    """The round-0 window of the restart hole: the process dies between
    start() (checkpoint written: round 0 + tier state) and the FIRST tick.
    The restarted CrawlRun agrees on the round counter (both 0), so no
    resume runs — its tier, built from the config at construction, must
    already equal the checkpointed one, so the first round probes it and
    checkpoints it instead of silently dropping the bloom tier."""
    run_dir = str(tmp_path_factory.mktemp("r0-run"))
    tmp = tmp_path_factory.mktemp("r0-aux")
    ticks = tmp / "ticks"
    ticks.mkdir()
    run = _new_run(spark, fixture_dir, run_dir, use_bloom=True)
    assert run.checkpoint_state()["tiers"] is not None
    del run  # crash before any tick

    run2 = _raw_run(spark, fixture_dir, run_dir, use_bloom=True)
    assert run2.round == 0 and run2.tiers is not None
    assert run2.tiers.state() == run2.checkpoint_state()["tiers"]
    (ticks / "t0.csv").write_text("0\n")
    q = crawl_round_stream(spark, run2, str(ticks), str(tmp / "ckpt"))
    q.awaitTermination(300)
    assert run2.round == 1
    assert run2.checkpoint_state()["tiers"] is not None, "bloom tier dropped"


def test_gated_ingest_invalid_urls_do_not_burn_budget(spark, tmp_path):
    """The stateful gate's GroupState count is the host's LIFETIME budget,
    so validity must gate before it: a host whose stream opens with
    budget_per_host malformed URLs would otherwise never crawl."""
    cand = tmp_path / "cand"
    cand.mkdir()
    base = dt.datetime(2026, 1, 1)
    schema = "host string, url string, ts timestamp"
    # 3 invalid candidates arrive FIRST (earliest ts), then 3 valid ones
    rows = [
        ("h1.com", f"not a url {i}", base + dt.timedelta(seconds=i))
        for i in range(3)
    ] + [
        ("h1.com", f"https://h1.com/ok{i}", base + dt.timedelta(seconds=10 + i))
        for i in range(3)
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(cand / "f1"))
    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    q = ingest_gated_candidates(
        spark,
        str(cand / "*"),
        frontier,
        str(tmp_path / "ck"),
        budget_per_host=3,
        available_now=True,
    )
    q.awaitTermination(300)
    urls = sorted(r["url"] for r in frontier.read(spark, schema=FRONTIER).collect())
    assert urls == [f"https://h1.com/ok{i}" for i in range(3)]
