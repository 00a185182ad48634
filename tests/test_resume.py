"""North-rule resume gate: kill after round k, resume from checkpoint +
snapshots, final state identical to the uninterrupted run — including
rollback of partial post-checkpoint commits (crash mid-round)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
from web_crawler_spark.schemas import SEEN
from web_crawler_spark.sources.fixtures import generate_site, load_fixture


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("site"))
    generate_site(d, n_pages=120, n_hosts=10, n_seeds=6)
    return d


def _mk_run(spark, fixture_dir, run_dir, max_rounds=4, config=None):
    return CrawlRun(
        spark,
        run_dir,
        urls=load_fixture(spark, fixture_dir, "urls"),
        links=load_fixture(spark, fixture_dir, "links"),
        pages=load_fixture(spark, fixture_dir, "pages"),
        robots=load_fixture(spark, fixture_dir, "robots"),
        config=config or CrawlConfig(max_rounds=max_rounds),
    )


def _seeds_df(spark, fixture_dir):
    seeds = pd.read_csv(f"{fixture_dir}/seeds.csv")
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(seeds.url)], ["row_index", "url"]
    )


def _log_tuples(spark, run):
    rows = run.fetch_log_t.read(spark).collect()
    return sorted(
        (r.round, r.fetch_seq, r.url, r.status, r.error_code, r.attempts)
        for r in rows
    )


def test_kill_and_resume_identical(spark, fixture_dir, tmp_path_factory):
    # uninterrupted reference run
    ref = _mk_run(spark, fixture_dir, str(tmp_path_factory.mktemp("ref")))
    ref.start(_seeds_df(spark, fixture_dir))
    ref.run()

    # interrupted run: 2 rounds, then the process "dies"
    rdir = str(tmp_path_factory.mktemp("resumed"))
    first = _mk_run(spark, fixture_dir, rdir)
    first.start(_seeds_df(spark, fixture_dir))
    first.run_round()
    first.run_round()
    del first  # crash

    # simulate a partial post-checkpoint commit (crash mid-round-3: seen got
    # an extra append that never made it into a checkpoint)
    fresh = _mk_run(spark, fixture_dir, rdir)
    fresh.seen_t.append(
        spark.createDataFrame([(999999, "https://junk.example.com/x", 99)], SEEN)
    )

    # restart: rollback + continue
    resumed_from = fresh.resume()
    assert resumed_from == 2
    junk = fresh.seen_t.read(spark).filter(F.col("url_hash") == 999999).count()
    assert junk == 0, "partial commit must be rolled back"
    fresh.run()

    assert _log_tuples(spark, fresh) == _log_tuples(spark, ref)
    ref_seen = {r.url_hash for r in ref.seen_t.read(spark).collect()}
    res_seen = {r.url_hash for r in fresh.seen_t.read(spark).collect()}
    assert ref_seen == res_seen


def test_resume_rolls_back_lazily_created_table(spark, fixture_dir, tmp_path_factory):
    """A run_dir whose checkpoint has no trap_hosts_sid (table absent)
    where trap_hosts was created + committed mid-round and the round then
    crashed: resume() must discard those commits entirely — otherwise
    dirty_vs_checkpoint() stays True after resume() and maintain() is
    blocked until a full round happens to complete. The crawl then runs
    trap detection over the uninitialized table."""
    import json
    import os
    import shutil

    rdir = str(tmp_path_factory.mktemp("prehyg"))
    run = _mk_run(spark, fixture_dir, rdir)
    run.start(_seeds_df(spark, fixture_dir))
    run.run_round()
    # rewrite history: pre-hygiene checkpoints have no trap_hosts_sid and
    # the table does not exist on disk
    ckpt = os.path.join(rdir, "checkpoint.json")
    with open(ckpt) as f:
        state = json.load(f)
    del state["trap_hosts_sid"]
    with open(ckpt, "w") as f:
        json.dump(state, f)
    shutil.rmtree(os.path.join(rdir, "trap_hosts"))
    del run  # crash boundary

    fresh = _mk_run(
        spark, fixture_dir, rdir,
        config=CrawlConfig(max_rounds=4, trap_detection=True),
    )
    # simulate the crash window: the next round initialized the
    # table and committed a flagged host, then died before its checkpoint
    from web_crawler_spark.schemas import TRAP_HOSTS

    fresh.trap_hosts_t.overwrite_local([], TRAP_HOSTS)
    fresh.trap_hosts_t.append_local(
        [{"host": "trap.example", "flagged_round": 2, "n_urls": 50,
          "n_paths": 1, "max_dup_segments": 0, "variant_bp": 500000}],
        TRAP_HOSTS,
    )
    assert fresh.dirty_vs_checkpoint()
    assert fresh.resume() == 1
    # the rollback to "no snapshot" publishes an empty one
    traps = fresh.trap_hosts_t
    assert traps._manifest(traps.current_snapshot_id())["files"] == []
    assert traps.read(spark, schema=TRAP_HOSTS).count() == 0
    assert not fresh.dirty_vs_checkpoint(), "resume must leave a clean state"
    fresh.maintain()  # must not raise 'un-checkpointed commits'
    fresh.run()  # and the crawl still completes


def test_snapshot_time_travel(spark, fixture_dir, tmp_path_factory):
    run = _mk_run(spark, fixture_dir, str(tmp_path_factory.mktemp("tt")))
    run.start(_seeds_df(spark, fixture_dir))
    run.run_round()
    sid_after_r1 = run.fetch_log_t.current_snapshot_id()
    n_r1 = run.fetch_log_t.read(spark).count()
    run.run_round()
    assert run.fetch_log_t.read(spark).count() > n_r1
    # time travel back to the round-1 snapshot
    assert run.fetch_log_t.read(spark, snapshot_id=sid_after_r1).count() == n_r1


def test_maintain_preserves_crawl_and_resume(spark, tmp_path_factory):
    """maintain() between rounds must not change any result: the maintained
    crawl's fetch log equals an unmaintained twin's, history dirs shrink,
    and kill/resume still works afterwards."""
    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.schemas import FETCH_LOG
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    fdir = str(tmp_path_factory.mktemp("maint-fixture"))
    generate_site(fdir, n_pages=100, n_hosts=6, n_seeds=5)
    kw = dict(
        urls=load_fixture(spark, fdir, "urls"),
        links=load_fixture(spark, fdir, "links"),
        pages=load_fixture(spark, fdir, "pages"),
        robots=load_fixture(spark, fdir, "robots"),
        config=CrawlConfig(default_host_budget=3, max_rounds=10),
    )

    def log_rows(run):
        return sorted(
            map(
                tuple,
                run.fetch_log_t.read(spark, schema=FETCH_LOG)
                .select("round", "fetch_seq", "url", "status")
                .collect(),
            )
        )

    plain = CrawlRun(spark, str(tmp_path_factory.mktemp("plain")), **kw)
    plain.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    for _ in range(4):
        plain.run_round()

    maint = CrawlRun(spark, str(tmp_path_factory.mktemp("maint")), **kw)
    maint.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    maint.run_round()
    maint.run_round()
    dirs_before = len(maint.fetch_log_t.data_dirs())
    stats = maint.maintain(keep_last=1)
    assert len(maint.fetch_log_t.data_dirs()) == 1 < dirs_before
    assert sum(stats.values()) > 0  # something actually expired
    maint.run_round()
    # kill/resume across the maintenance boundary
    resumed = CrawlRun(spark, maint.run_dir, **kw)
    assert resumed.resume() == 3
    resumed.run_round()
    assert log_rows(resumed) == log_rows(plain)


def test_maintain_on_fresh_handle_preserves_checkpoint_round(spark, tmp_path_factory):
    """Offline maintenance: maintain() on a freshly opened CrawlRun (no
    resume() call) must keep the on-disk round/marker state intact, and
    never leave checkpoint.json pointing at an expired snapshot."""
    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    fdir = str(tmp_path_factory.mktemp("fresh-maint-fixture"))
    generate_site(fdir, n_pages=60, n_hosts=5, n_seeds=4)
    kw = dict(
        urls=load_fixture(spark, fdir, "urls"),
        links=load_fixture(spark, fdir, "links"),
        pages=load_fixture(spark, fdir, "pages"),
        robots=load_fixture(spark, fdir, "robots"),
        config=CrawlConfig(default_host_budget=3, max_rounds=10),
    )
    run = CrawlRun(spark, str(tmp_path_factory.mktemp("fresh-maint")), **kw)
    run.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    run.run_round()
    run.run_round()

    fresh = CrawlRun(spark, run.run_dir, **kw)  # new handle, NO resume()
    fresh.maintain(keep_last=1)
    state = fresh.checkpoint_state()
    assert state["round"] == 2  # on-disk round preserved, not reset to 0
    # checkpoint targets live (post-compaction) snapshots: resume works
    resumed = CrawlRun(spark, run.run_dir, **kw)
    assert resumed.resume() == 2
    m = resumed.run_round()
    assert m["round"] == 3


def test_maintain_expires_table_tier_blob_snapshots(spark, tmp_path_factory):
    """With tier_kind='table', maintain() must expire the blob table's
    per-flush snapshots (on a fresh handle too — its tier is built from
    the config at construction), keep the checkpointed blob snapshot live,
    and the crawl must continue byte-identically afterwards."""
    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.schemas import FETCH_LOG
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    fdir = str(tmp_path_factory.mktemp("tblmaint-fixture"))
    generate_site(fdir, n_pages=100, n_hosts=6, n_seeds=5)
    kw = dict(
        urls=load_fixture(spark, fdir, "urls"),
        links=load_fixture(spark, fdir, "links"),
        pages=load_fixture(spark, fdir, "pages"),
        robots=load_fixture(spark, fdir, "robots"),
        config=CrawlConfig(
            default_host_budget=3, max_rounds=8, use_bloom=True,
            flush_every=1, tier_kind="table",
        ),
    )

    def log_rows(run):
        return sorted(
            map(
                tuple,
                run.fetch_log_t.read(spark, schema=FETCH_LOG)
                .select("round", "fetch_seq", "url", "status")
                .collect(),
            )
        )

    plain = CrawlRun(spark, str(tmp_path_factory.mktemp("tbl-plain")), **kw)
    plain.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    for _ in range(4):
        plain.run_round()

    maint = CrawlRun(spark, str(tmp_path_factory.mktemp("tbl-maint")), **kw)
    maint.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    maint.run_round()
    maint.run_round()
    maint.run_round()
    # flush_every=1 → one blob snapshot per round (+ the init commit)
    fresh = CrawlRun(spark, maint.run_dir, **kw)  # offline handle, no resume()
    stats = fresh.maintain(keep_last=1)
    assert stats.get("bloom", 0) > 0
    # the checkpointed blob snapshot survived; the run continues identically
    resumed = CrawlRun(spark, maint.run_dir, **kw)
    assert resumed.resume() == 3
    resumed.run_round()
    assert log_rows(resumed) == log_rows(plain)
