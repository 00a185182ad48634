"""Crawler-trap detection tests: shape parsing, signal arithmetic, and
the trap decision on crafted hosts."""

from __future__ import annotations

from web_crawler_spark.operators.traps import detect_url_traps, url_shape


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_url_shape_columns(spark):
    rows = {
        r.url: r
        for r in url_shape(
            _urls(
                spark,
                [
                    "https://a.example/x/y/z?q=1#frag",
                    "http://b.example/",
                    "https://c.example/a/b/a/b",
                    "https://d.example",
                ],
            )
        ).collect()
    }
    r = rows["https://a.example/x/y/z?q=1#frag"]
    assert (r.host, r.path, r.depth, r.dup_segments, r.has_params) == (
        "a.example", "/x/y/z", 3, 0, True,
    )
    r = rows["http://b.example/"]
    assert (r.host, r.path, r.depth, r.has_params) == ("b.example", "/", 0, False)
    r = rows["https://c.example/a/b/a/b"]
    assert (r.depth, r.dup_segments) == (4, 2)
    # bare host, no path at all
    r = rows["https://d.example"]
    assert (r.host, r.path, r.depth) == ("d.example", "", 0)


def test_host_matches_scheduler_definition(spark):
    """The trap table joins against the frontier's url_host column
    (plans/round.py), so url_shape must produce the SAME host for URLs
    carrying a port or userinfo — otherwise flagged hosts never match and
    quarantine silently no-ops for exactly the hosts it flagged."""
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.urls import url_host

    urls = [
        "https://spam.example:8080/cat?sess=1",
        "https://user@spam.example/cat?sess=2",
        "https://u:p@spam.example:8443/cat?sess=3",
        "https://plain.example/x",
    ]
    df = _urls(spark, urls)
    got = (
        url_shape(df)
        .join(df.select("url", url_host(F.col("url")).alias("sched_host")), "url")
        .collect()
    )
    assert got, "join lost rows"
    for r in got:
        assert r.host == r.sched_host, (r.url, r.host, r.sched_host)
        assert r.host in ("spam.example", "plain.example")


def test_query_variant_trap(spark):
    # 30 URLs over 2 distinct paths -> variant_bp 150000 >= 30000 -> trap
    trap = [f"https://t.example/p{i % 2}?sess={i}" for i in range(30)]
    # 30 URLs over 30 paths -> 10000 bp -> clean
    clean = [f"https://c.example/item/{i}" for i in range(30)]
    out = {r.host: r for r in detect_url_traps(_urls(spark, trap + clean)).collect()}
    t = out["t.example"]
    assert t.is_trap and t.variant_bp == 150000 and t.n_paths == 2
    assert t.n_param_urls == 30
    c = out["c.example"]
    assert not c.is_trap and c.variant_bp == 10000


def test_loop_segment_trap_and_min_urls_gate(spark):
    loopy = [f"https://l.example/a/{i}/a/{i}" for i in range(25)]
    # same shape but below min_urls: not flagged
    small = [f"https://s.example/a/{i}/a/{i}" for i in range(5)]
    out = {
        r.host: r for r in detect_url_traps(_urls(spark, loopy + small)).collect()
    }
    assert out["l.example"].is_trap and out["l.example"].max_dup_segments == 2
    assert not out["s.example"].is_trap
    assert out["s.example"].max_dup_segments == 2  # signal present, gate holds


def test_thresholds_are_parameters(spark):
    urls = [f"https://h.example/p{i % 2}?x={i}" for i in range(30)]
    strict = detect_url_traps(_urls(spark, urls), variant_ratio_bp=200000).collect()
    assert not strict[0].is_trap  # 150000 < 200000
    loose = detect_url_traps(_urls(spark, urls), min_urls=31).collect()
    assert not loose[0].is_trap  # n_urls gate


def test_trap_quarantine_in_crawl_round(spark, tmp_path_factory):
    """trap_detection=True quarantines a host whose discovered URL
    population trips the variant-ratio signal: its candidates are logged
    skipped (trap_error/TRAP_HOST), settled (never retried), and the crawl
    still drains; clean hosts crawl unaffected; the flag ratchets into
    trap_hosts_t and survives resume."""
    import pandas as pd

    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture

    d = str(tmp_path_factory.mktemp("trap-site"))
    generate_site(d, n_pages=40, n_hosts=4, n_seeds=3, neardup_rate=0.0)
    seeds = pd.read_csv(f"{d}/seeds.csv")
    links = load_fixture(spark, d, "links")
    # every seed page links to 30 session-variant URLs of ONE path on a
    # dedicated host (some seeds are robots-blocked — e.g. /private/ —
    # so no single seed is guaranteed to fetch): 30 urls / 1 path =
    # 300000 bp >= 30000 -> trap
    trap_rows = spark.createDataFrame(
        [
            (str(u), f"https://sess.trap.example/cat?sess={i}",
             1000 + i, "", "", [], False)
            for u in seeds.url
            for i in range(30)
        ],
        links.schema,
    )
    cfg = CrawlConfig(max_rounds=16, trap_detection=True)
    run_dir = str(tmp_path_factory.mktemp("trap-run"))
    run = CrawlRun(
        spark,
        run_dir,
        urls=load_fixture(spark, d, "urls"),
        links=links.unionByName(trap_rows),
        pages=load_fixture(spark, d, "pages"),
        robots=load_fixture(spark, d, "robots"),
        config=cfg,
    )
    seeds_df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(seeds.url)], ["row_index", "url"]
    )
    run.start(seeds_df)
    metrics = run.run()

    log = run.fetch_log_t.read(spark).collect()
    trap_log = [r for r in log if r.host == "sess.trap.example"]
    assert len(trap_log) == 30  # every candidate logged exactly once
    assert all(
        (r.status, r.error_type, r.error_code)
        == ("skipped", "trap_error", "TRAP_HOST")
        for r in trap_log
    )
    # quarantined rows are settled: they sit in the seen set, never retried
    seen_hosts = {
        r.url.split("/")[2] for r in run.seen_t.read(spark).collect()
    }
    assert "sess.trap.example" in seen_hosts
    # the flag is recorded with its evidence
    traps = run.trap_hosts_t.read(spark).collect()
    assert [t.host for t in traps] == ["sess.trap.example"]
    assert traps[0].n_urls == 30 and traps[0].n_paths == 1
    assert traps[0].variant_bp == 300000
    # the round that saw the explosion reports the quarantine size
    assert any(m.get("rows_trapped", 0) == 30 for m in metrics)
    # clean hosts still crawl: successes exist and none are from the trap
    ok_hosts = {r.host for r in log if r.status == "success"}
    assert ok_hosts and "sess.trap.example" not in ok_hosts
    # the crawl drained (no livelock from re-discovered trap URLs)
    assert metrics[-1]["rows_in"] == 0

    # resume on a fresh CrawlRun over the same run_dir keeps the ratchet
    run2 = CrawlRun(
        spark,
        run_dir,
        urls=load_fixture(spark, d, "urls"),
        links=links.unionByName(trap_rows),
        pages=load_fixture(spark, d, "pages"),
        robots=load_fixture(spark, d, "robots"),
        config=cfg,
    )
    run2.resume()
    assert [t.host for t in run2.trap_hosts_t.read(spark).collect()] == [
        "sess.trap.example"
    ]
    run.close()
    run2.close()


def test_start_drops_prefetched_trap_rows(spark, tmp_path_factory):
    """start() begins a new history: trap rows prefetched for the next
    round of an earlier crawl on the same object must not carry over —
    consumed by round 1, they would quarantine hosts for good."""
    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    d = str(tmp_path_factory.mktemp("restart-site"))
    generate_site(d, n_pages=20, n_hosts=2, n_seeds=2)
    run = CrawlRun(
        spark,
        str(tmp_path_factory.mktemp("restart-run")),
        urls=load_fixture(spark, d, "urls"),
        links=load_fixture(spark, d, "links"),
        pages=load_fixture(spark, d, "pages"),
        robots=load_fixture(spark, d, "robots"),
        config=CrawlConfig(trap_detection=True),
    )
    run._next_traps = (1, [{"host": "stale.example", "flagged_round": 1}])
    run.start(read_seeds(spark, f"{d}/seeds.csv"))
    assert run._next_traps is None
