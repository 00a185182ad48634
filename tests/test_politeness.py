"""W4: salted two-phase per-host selection ≡ naive single-window selection;
robots broadcast-join filter; deterministic fetch_seq under parallelism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from web_crawler_spark.operators.politeness import (
    assign_fetch_seq,
    robots_filter,
    select_per_host,
)


@pytest.fixture(scope="module")
def frontier(spark):
    # Zipf-skewed: host0 owns ~half the frontier (the mega-host case)
    rng = np.random.RandomState(7)
    n = 5000
    hosts = [f"h{min(int(x), 19)}.com" for x in rng.zipf(1.3, n) - 1]
    rows = [
        (
            f"https://{hosts[i]}/p/{i}",
            int(rng.randint(-(2**62), 2**62)),
            hosts[i],
            float(rng.randint(0, 5)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["url", "url_hash", "host", "priority"])


@pytest.fixture(scope="module")
def robots(spark):
    rows = [(f"h{i}.com", ["/private/"] if i % 3 == 0 else [], 100, 2 + i % 5) for i in range(20)]
    return spark.createDataFrame(
        rows, ["host", "disallow_prefixes", "crawl_delay_ms", "max_per_round"]
    )


def _naive_select(frontier, robots, default_budget=4):
    budgeted = frontier.join(
        robots.select("host", "max_per_round"), "host", "left"
    ).withColumn("b", F.coalesce("max_per_round", F.lit(default_budget)))
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    return (
        budgeted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("b"))
        .select("url", "url_hash", "host", "priority")
    )


def test_two_phase_equals_naive(spark, frontier, robots):
    fast = select_per_host(frontier, robots, salt_buckets=16).select(
        "url", "url_hash", "host", "priority"
    )
    naive = _naive_select(frontier, robots)
    assert fast.count() == naive.count()
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0


def test_budget_respected(spark, frontier, robots):
    sel = select_per_host(frontier, robots)
    per_host = sel.groupBy("host").count().collect()
    budgets = {r.host: r.max_per_round for r in robots.collect()}
    for r in per_host:
        assert r["count"] <= budgets.get(r.host, 4), r


def test_robots_filter_blocks_prefixes(spark, robots):
    fr = spark.createDataFrame(
        [
            ("https://h0.com/private/x", 1, "h0.com", 0.0),
            ("https://h0.com/public/x", 2, "h0.com", 0.0),
            ("https://h1.com/private/x", 3, "h1.com", 0.0),  # h1 has no rules
            ("https://unknown.com/a", 4, "unknown.com", 0.0),  # no robots row
        ],
        ["url", "url_hash", "host", "priority"],
    )
    allowed, blocked = robots_filter(fr, robots)
    assert {r.url_hash for r in blocked.collect()} == {1}
    assert {r.url_hash for r in allowed.collect()} == {2, 3, 4}


def test_fetch_seq_deterministic_across_parallelism(spark, frontier, robots):
    sel = select_per_host(frontier, robots)
    a = assign_fetch_seq(sel.repartition(32)).select("fetch_seq", "url").collect()
    b = assign_fetch_seq(sel.repartition(2)).select("fetch_seq", "url").collect()
    assert sorted((r.fetch_seq, r.url) for r in a) == sorted(
        (r.fetch_seq, r.url) for r in b
    )


def test_two_phase_fetch_seq_equals_global_window(spark, frontier, robots):
    """VERDICT r1 #2 done-criterion: the range-partitioned fetch_seq must be
    byte-identical to the single-window global rank — on the full skewed
    frontier (not just a budget-bounded selection), at several partition
    counts, including more partitions than rows."""
    from web_crawler_spark.operators.politeness import assign_fetch_seq_global

    expected = sorted(
        (r.fetch_seq, r.url)
        for r in assign_fetch_seq_global(frontier).select("fetch_seq", "url").collect()
    )
    for nparts in (1, 7, 32):
        got = sorted(
            (r.fetch_seq, r.url)
            for r in assign_fetch_seq(frontier, num_partitions=nparts)
            .select("fetch_seq", "url")
            .collect()
        )
        assert got == expected, f"nparts={nparts}"
    tiny = frontier.limit(3)
    a = sorted(map(tuple, assign_fetch_seq(tiny, num_partitions=16).select("fetch_seq", "url").collect()))
    b = sorted(map(tuple, assign_fetch_seq_global(tiny).select("fetch_seq", "url").collect()))
    assert a == b


def test_fetch_seq_plan_has_no_global_sort_task(spark, frontier):
    """The two-phase plan must not contain a single-partition window over
    the whole batch: the only Window with an empty partition spec is the
    offset prefix-sum over ≤ num_partitions aggregate rows."""
    plan = (
        assign_fetch_seq(frontier, num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    # the full-batch window is keyed by the bucket (parallel hash shuffle)
    assert "hashpartitioning(__bucket" in plan
    # the only SinglePartition exchange feeds the tiny offset aggregate
    # (its input is the groupBy(__bucket) count), never the raw batch
    assert plan.count("singlepartition") <= 2


def test_crawl_delay_caps_budget(spark):
    """A host demanding a crawl delay gets at most window/delay fetches per
    round, even when max_per_round would allow more."""
    from web_crawler_spark.operators.politeness import with_host_budget

    frontier = spark.createDataFrame(
        [(f"https://slow.com/{i}", "slow.com") for i in range(10)]
        + [(f"https://fast.com/{i}", "fast.com") for i in range(10)],
        ["url", "host"],
    )
    robots = spark.createDataFrame(
        [("slow.com", None, 30_000, 8), ("fast.com", None, 100, 8)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_per_round int",
    )
    out = with_host_budget(frontier, robots, default_budget=8, round_window_ms=60_000)
    budgets = {r["host"]: r["host_budget"] for r in out.select("host", "host_budget").distinct().collect()}
    assert budgets["slow.com"] == 2   # 60000 / 30000
    assert budgets["fast.com"] == 8   # delay cap (600) not binding


def test_parse_robots_txt_feeds_the_policy_chain(spark):
    """Raw robots.txt bodies → policy rows → robots_filter/with_host_budget:
    star-group resolution (incl. multi-UA runs), comment stripping,
    crawl-delay conversion, and hosts with no applicable rules."""
    from web_crawler_spark.operators.politeness import (
        parse_robots_txt,
        robots_filter,
        with_host_budget,
    )

    bodies = [
        ("a.com", "User-agent: *\nDisallow: /private/\nCrawl-delay: 2"),
        ("b.com", "User-agent: x\nUser-agent: *\nDisallow: /multi/ # note\n\nUser-agent: y\nDisallow: /y/"),
        ("c.com", "User-agent: onlybot\nDisallow: /x/"),
        ("d.com", ""),
        # CRLF body (the common served form) + tab whitespace + fractional
        # delay (1234.5 ms must TRUNCATE to 1234, matching the oracle)
        ("e.com", "User-agent: *\r\n\tDisallow: /crlf/\r\nCrawl-delay: 1.2345\r\n"),
    ]
    parsed = parse_robots_txt(spark.createDataFrame(bodies, ["host", "robots_txt"]))
    rows = {r["host"]: r for r in parsed.collect()}
    assert len(rows) == 5  # every fetched host emits a row
    assert rows["e.com"]["disallow_prefixes"] == ["/crlf/"]  # CRLF + tab handled
    assert rows["e.com"]["crawl_delay_ms"] == 1234  # truncation, not rounding
    assert rows["e.com"]["max_per_round"] is None  # drop-in for with_host_budget
    assert rows["a.com"]["disallow_prefixes"] == ["/private/"]
    assert rows["a.com"]["crawl_delay_ms"] == 2000
    assert rows["b.com"]["disallow_prefixes"] == ["/multi/"]  # comment stripped, y-group ignored
    assert rows["c.com"]["disallow_prefixes"] == []  # no star group
    assert rows["d.com"]["disallow_prefixes"] == [] and rows["d.com"]["crawl_delay_ms"] is None

    # parsed output drives the existing policy operators directly
    frontier = spark.createDataFrame(
        [("https://a.com/private/p", 1, "a.com", 0.0),
         ("https://a.com/ok", 2, "a.com", 0.0),
         ("https://b.com/multi/z", 3, "b.com", 0.0)],
        ["url", "url_hash", "host", "priority"],
    )
    policy = parsed.withColumn("max_per_round", F.lit(8))
    allowed, blocked = robots_filter(frontier, policy)
    assert {r["url_hash"] for r in blocked.collect()} == {1, 3}
    budgets = {
        r["host"]: r["host_budget"]
        for r in with_host_budget(allowed, policy, round_window_ms=6000)
        .select("host", "host_budget").distinct().collect()
    }
    assert budgets["a.com"] == 3  # 6000ms window / 2000ms delay


def test_parse_robots_txt_matches_python_twin_on_random_bodies(spark):
    """200 seeded-random robots.txt bodies (every token class: star/named/
    case-variant UA runs, empty+commented+junk lines, unparseable delays)
    parsed by the Spark operator must equal an independent line-by-line
    Python twin."""
    import re as _re

    from web_crawler_spark.operators.politeness import parse_robots_txt

    def py_twin(body: str):
        groups: list[tuple[set, list]] = []
        prev_ua = False
        for raw in _re.split(r"\r?\n", body):
            ln = _re.sub(r"#.*$", "", raw).strip()
            low = ln.lower()
            if low.startswith("user-agent:"):
                if not prev_ua:
                    groups.append((set(), []))
                groups[-1][0].add(ln.split(":", 1)[1].strip())
                prev_ua = True
            else:
                if groups:
                    groups[-1][1].append(ln)
                prev_ua = False
        prefixes: set = set()
        delay = None
        for uas, rules in groups:
            if "*" not in uas:
                continue
            for r in rules:
                low = r.lower()
                val = r.split(":", 1)[1].strip() if ":" in r else ""
                if low.startswith("disallow:") and val:
                    prefixes.add(val)
                elif low.startswith("crawl-delay:"):
                    try:
                        ms = int(float(val) * 1000)
                    except ValueError:
                        continue
                    delay = ms if delay is None else min(delay, ms)
        return sorted(prefixes), delay

    import numpy as np

    vocab = [
        "User-agent: *", "User-agent: foo", "user-agent:*", "USER-AGENT: Bar",
        "User-agent: *  # trailing", "Disallow: /a/", "Disallow:",
        "disallow: /b", "Disallow: /c/ # keep out", "DISALLOW: /UP/",
        "Crawl-delay: 2", "crawl-delay: 1.5", "Crawl-delay: abc",
        "Crawl-delay: 10", "Crawl-delay: 1.2345", "", "# just a comment",
        "Allow: /x", "random junk line", "Sitemap: https://x/s.xml",
        "Disallow: /a:b", "\tDisallow: /tabbed/",
    ]
    rng = np.random.RandomState(23)
    bodies = [
        (f"h{i}",
         ("\r\n" if rng.rand() < 0.3 else "\n").join(
             vocab[rng.randint(0, len(vocab))] for _ in range(rng.randint(0, 25))))
        for i in range(200)
    ]
    got = {
        r["host"]: (list(r["disallow_prefixes"]), r["crawl_delay_ms"])
        for r in parse_robots_txt(
            spark.createDataFrame(bodies, ["host", "robots_txt"])
        ).collect()
    }
    assert len(got) == 200
    for host, body in bodies:
        assert got[host] == py_twin(body), f"{host}: {body!r}"


def test_extract_sitemaps(spark):
    from web_crawler_spark.operators.politeness import extract_sitemaps

    body_a = (
        "User-agent: *\r\nDisallow: /x/\r\n"
        "Sitemap: https://a.example/map.xml  # comment\r\n"
        "sitemap: https://a.example/map.xml\r\n"  # dup + case → one row
        "SiteMap: http://a.example/two.xml"
    )
    body_b = "Sitemap: ftp://bad/x.xml\nSitemap:\nDisallow: /"
    df = spark.createDataFrame(
        [("a.example", body_a), ("b.example", body_b), ("c.example", None)],
        "host string, robots_txt string",
    )
    rows = {(r.host, r.sitemap_url): r.is_valid for r in extract_sitemaps(df).collect()}
    assert rows == {
        ("a.example", "https://a.example/map.xml"): True,
        ("a.example", "http://a.example/two.xml"): True,
        ("b.example", "ftp://bad/x.xml"): False,
    }


def test_robots_blocks_pathless_url(spark, robots):
    """RFC 9309 §2.2.2: 'https://h0.com' matches as path '/' — parse_url
    PATH yields '' there, and before the fix 'Disallow: /private' could
    never block it while 'Disallow: /' blocked nothing at the root."""
    from pyspark.sql import functions as F

    policy = spark.createDataFrame(
        [("root.com", ["/"]), ("h0.com", ["/private"])],
        "host string, disallow_prefixes array<string>",
    )
    fr = spark.createDataFrame(
        [
            ("https://root.com", 1, "root.com", 0.0),   # path-less, all blocked
            ("https://root.com/x", 2, "root.com", 0.0),
            ("https://h0.com", 3, "h0.com", 0.0),        # path-less, allowed
        ],
        ["url", "url_hash", "host", "priority"],
    )
    allowed, blocked = robots_filter(fr, policy)
    assert {r.url_hash for r in blocked.collect()} == {1, 2}
    assert {r.url_hash for r in allowed.collect()} == {3}
    # the Python oracle twin applies the same rule
    from tests.oracle.crawler import OracleCrawler

    assert OracleCrawler._path(None, "https://root.com") == "/"


def test_crawl_delay_longer_than_window_fetches_every_nth_round(spark):
    """A delay LONGER than the round window means < 1 fetch per round: with
    the round number the host fetches once every ceil(delay/window) rounds
    (flooring at 1 every round would over-fetch it N-fold)."""
    from web_crawler_spark.operators.politeness import with_host_budget

    frontier = spark.createDataFrame(
        [(f"https://glacial.com/{i}", "glacial.com") for i in range(4)],
        ["url", "host"],
    )
    robots = spark.createDataFrame(
        [("glacial.com", None, 180_000, 8)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_per_round int",
    )

    def budget(rnd):
        out = with_host_budget(
            frontier, robots, default_budget=8, round_window_ms=60_000, rnd=rnd
        )
        [r] = out.select("host_budget").distinct().collect()
        return r["host_budget"]

    # period = ceil(180000/60000) = 3: fetch on rounds 1, 4, 7, ...
    assert [budget(r) for r in (1, 2, 3, 4, 5, 6, 7)] == [1, 0, 0, 1, 0, 0, 1]
    # omitting rnd is round 1, for delays below, at and above the window
    # and for a NULL delay
    hosts = spark.createDataFrame(
        [(f"https://{h}.com/{i}", f"{h}.com")
         for h in ("below", "at", "above", "nodelay") for i in range(10)],
        ["url", "host"],
    )
    delays = spark.createDataFrame(
        [("below.com", None, 15_000, 8), ("at.com", None, 60_000, 8),
         ("above.com", None, 180_000, 8), ("nodelay.com", None, None, 8)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_per_round int",
    )

    def budgets(**kw):
        out = with_host_budget(
            hosts, delays, default_budget=8, round_window_ms=60_000, **kw
        )
        rows = out.select("host", "host_budget").distinct().collect()
        return {r["host"]: r["host_budget"] for r in rows}

    implicit = budgets()
    assert implicit == budgets(rnd=1)
    assert implicit == {"below.com": 4, "at.com": 1, "above.com": 1, "nodelay.com": 8}
    # the Python oracle replays the same gate
    for rnd, want in [(1, 1), (2, 0), (3, 0), (4, 1)]:
        period = -(-180_000 // 60_000)
        assert (1 if (rnd - 1) % period == 0 else 0) == want


def test_fetch_seq_observed_sample_equals_collected(spark, frontier):
    """The crawl round supplies the boundary sample as an observed
    collect_list riding the selected checkpoint instead of a separate
    collect (one fewer sequential job per round). The sample is a pure
    function of row values, so supplied-vs-collected boundaries — and
    therefore fetch_seq — must be identical."""
    from pyspark.sql import Observation

    from web_crawler_spark.operators.politeness import FETCH_SEQ_SAMPLE_MOD

    obs = Observation("sample")
    ckpt = frontier.observe(
        obs,
        F.collect_list(
            F.when(
                F.pmod(F.col("url_hash"), F.lit(FETCH_SEQ_SAMPLE_MOD)) == 0,
                F.struct("priority", "url_hash"),
            )
        ).alias("sample"),
    ).localCheckpoint(eager=True)
    supplied = sorted(
        map(tuple, assign_fetch_seq(ckpt, num_partitions=8, sample_rows=obs.get["sample"])
            .select("fetch_seq", "url").collect())
    )
    collected = sorted(
        map(tuple, assign_fetch_seq(frontier, num_partitions=8)
            .select("fetch_seq", "url").collect())
    )
    assert supplied == collected
