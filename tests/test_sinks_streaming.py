"""Sink operators (ordered concat, image-path rewrite, tally), naming and
cookie scalar functions, text cleanup, and the Structured Streaming
surfaces (seed ingest via foreachBatch, watermarked hourly rollup)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from web_crawler_spark.functions.text import clean_text
from web_crawler_spark.functions.urls import output_name, parse_cookie_string
from web_crawler_spark.operators.sinks import (
    combine_results,
    download_tally,
    rewrite_image_paths,
)


def test_combine_results_order_and_no_separator(spark):
    df = spark.createDataFrame(
        [(3, "C"), (1, "A"), (2, "B")], ["bulk_index", "content"]
    )
    assert combine_results(df, "bulk_index", "content").collect()[0]["combined"] == "ABC"


def test_rewrite_image_paths_markdown_and_html(spark):
    mapping = spark.createDataFrame(
        [("https://x.com/a.png", "images/a.png")], ["url", "local_path"]
    )
    md = spark.createDataFrame(
        [("x", "see ![alt](https://x.com/a.png) and ![o](https://x.com/b.png)")],
        ["id", "content"],
    )
    out = rewrite_image_paths(md, mapping, style="markdown").collect()[0]["content"]
    assert out == "see ![alt](images/a.png) and ![o](https://x.com/b.png)"
    html = spark.createDataFrame(
        [("x", '<p><img src="https://x.com/a.png" alt=""></p>')], ["id", "content"]
    )
    out2 = rewrite_image_paths(html, mapping, style="html").collect()[0]["content"]
    assert out2 == '<p><img src="images/a.png" alt=""></p>'


def test_rewrite_image_paths_is_collect_free_and_udf_free(spark):
    """VERDICT r1 #7: the rewrite must not collect the mapping to the driver
    nor run a Python UDF — the plan is pure JVM expressions over a
    broadcast-joined mapping, and it handles a large manifest."""
    n = 5000
    mapping = spark.range(n).select(
        F.concat(F.lit("https://x.com/img"), F.col("id").cast("string"), F.lit(".png")).alias("url"),
        F.concat(F.lit("images/"), F.col("id").cast("string"), F.lit(".png")).alias("local_path"),
    )
    docs = spark.range(50).select(
        F.col("id"),
        F.concat(
            F.lit("intro ![a](https://x.com/img"), F.col("id").cast("string"),
            F.lit(".png) mid ![b](https://x.com/imgNOPE.png) end"),
        ).alias("content"),
    )
    out = rewrite_image_paths(docs, mapping, style="markdown")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no row-at-a-time nor Arrow Python UDF
    rows = {r["id"]: r["content"] for r in out.collect()}
    assert rows[7] == "intro ![a](images/7.png) mid ![b](https://x.com/imgNOPE.png) end"
    # NULL content passes through untouched
    nulls = spark.createDataFrame([(1, None)], "id long, content string")
    assert rewrite_image_paths(nulls, mapping).collect()[0]["content"] is None


def test_download_tally(spark):
    df = spark.createDataFrame(
        [("u1", "success"), ("u2", "failed"), ("u3", "success")], ["url", "status"]
    )
    rows = {r["status"]: r for r in download_tally(df).collect()}
    assert rows["success"]["n"] == 2 and rows["success"]["urls"] == ["u1", "u3"]
    assert rows["failed"]["n"] == 1


def test_output_name(spark):
    df = spark.createDataFrame([("https://www.site.com/blog/post?x=1", 7)], ["url", "idx"])
    ts = F.to_timestamp(F.lit("2026-01-15 10:30:00"))
    row = df.select(
        output_name(F.col("url"), ts, F.lit("md"), F.col("idx")).alias("n1"),
        output_name(F.col("url"), ts, F.lit("txt")).alias("n2"),
    ).collect()[0]
    assert row["n1"] == "007_site_com_blog_20260115_1030.md"
    assert row["n2"] == "site_com_blog_20260115_1030.txt"


def test_parse_cookie_string(spark):
    df = spark.createDataFrame(
        [('{"a": "1", "b": "2"}',), ("k1=v1; k2=v2",), ("k1=v1;k2=v2",),
         ("{not valid json",)], ["s"]
    )
    rows = [r["m"] for r in df.select(parse_cookie_string(F.col("s")).alias("m")).collect()]
    assert rows[0] == {"a": "1", "b": "2"}
    assert rows[1] == {"k1": "v1", "k2": "v2"}
    assert rows[2] == {"k1": "v1", "k2": "v2"}  # no-space separator tolerated
    # malformed JSON falls back to the pair parser, never an exception
    assert isinstance(rows[3], dict)


def test_clean_text(spark):
    raw = "  line one  \n\n\n\n  line two\t\n\n\n\nline three  "
    got = spark.createDataFrame([(raw,)], ["s"]).select(
        clean_text(F.col("s")).alias("c")
    ).collect()[0]["c"]
    assert got == "line one\n\nline two\n\nline three"


def test_seed_stream_ingest(spark, tmp_path):
    from web_crawler_spark.schemas import FRONTIER
    from web_crawler_spark.sources.lake import SnapshotTable
    from web_crawler_spark.streaming.ingest import ingest_seed_stream

    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    (seeds_dir / "batch1.csv").write_text(
        "url,mode\nhttps://a.com/x,content\nnot-a-url,content\nhttps://b.com/y#frag,link\n"
    )
    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    q = ingest_seed_stream(
        spark, str(seeds_dir), frontier, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    rows = frontier.read(spark, schema=FRONTIER).orderBy("url").collect()
    urls = [r["url"] for r in rows]
    assert urls == ["https://a.com/x", "https://b.com/y"]  # invalid dropped, fragment stripped
    assert all(r["depth"] == 0 and r["attempts"] == 0 for r in rows)
    want = [[f.name, f.dataType.simpleString()] for f in FRONTIER]
    schemas = frontier._manifest(frontier.current_snapshot_id())["schemas"]
    assert len(schemas) == 2 and all(e == want for e in schemas.values())


def test_start_keeps_seeds_in_band_zero(spark, tmp_path):
    """Seeds stay above every discovered band however long the seed list:
    ``start()`` clamps through ``faults.band_priority``, so rows past the
    band's width tie at its floor instead of sinking into depth 1, and rows
    inside it keep -row_index (seed 0 as -0.0)."""
    import math

    from web_crawler_spark.operators import faults
    from web_crawler_spark.plans.round import CrawlRun
    from web_crawler_spark.schemas import FRONTIER

    idx = [0, 999_999, 1_000_000, 2_500_000]
    seeds = spark.createDataFrame(
        [(i, f"https://s{i}.com/p") for i in idx], ["row_index", "url"]
    )
    # start() reads none of the fixture tables
    run = CrawlRun(spark, str(tmp_path / "run"), None, None, None, None)
    run.start(seeds)
    got = {
        r["url"]: r["priority"]
        for r in run.frontier_t.read(spark, schema=FRONTIER).collect()
    }
    assert len(got) == 4 and all(p > -1e6 for p in got.values())
    for i in idx:
        p = got[f"https://s{i}.com/p"]
        if i < 1_000_000:
            assert p == -i
        assert p == faults.py_band_priority(0, i)  # the oracle's twin
    assert math.copysign(1.0, got["https://s0.com/p"]) == -1.0


def test_seed_stream_parses_credentials_like_read_seeds(spark, tmp_path):
    """A streamed seed CSV yields the same per-row credentials as the same
    file through ``read_seeds`` → ``start()``: cookie, header (RFC-4180
    quoted JSON) and basic channels, NULLs when auth is disabled, and the
    URL trimmed."""
    from web_crawler_spark.plans.round import CrawlRun
    from web_crawler_spark.schemas import FRONTIER, SEEDS_RAW
    from web_crawler_spark.sources.lake import SnapshotTable
    from web_crawler_spark.sources.seeds import read_seeds
    from web_crawler_spark.streaming.ingest import ingest_seed_stream

    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    blank = ",,,,,,"  # mode .. exclude_anchors
    (seeds_dir / "auth.csv").write_text(
        ",".join(SEEDS_RAW.fieldNames()) + "\n"
        f'https://a.com/c,content{blank},yes,cookies,"sid=abc; t=1",,,\n'
        f'https://b.com/h,content{blank},true,headers,,"{{""X-Token"": ""t1""}}",,\n'
        f"  https://c.com/b  ,content{blank},1,basic,,,alice,s3cret\n"
        f"https://d.com/n,content{blank},no,cookies,sid=zzz,,,\n"
    )
    cols = ["url", "cookies", "auth_headers", "basic_auth_user", "basic_auth_pass"]

    def creds(table):
        rows = table.read(spark, schema=FRONTIER).select(*cols).orderBy("url")
        return [tuple(r) for r in rows.collect()]

    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))
    q = ingest_seed_stream(spark, str(seeds_dir), frontier, str(tmp_path / "ck"))
    q.awaitTermination(120)
    run = CrawlRun(spark, str(tmp_path / "run"), None, None, None, None)
    run.start(read_seeds(spark, str(seeds_dir / "auth.csv")))

    want = [
        ("https://a.com/c", {"sid": "abc", "t": "1"}, None, None, None),
        ("https://b.com/h", None, {"X-Token": "t1"}, None, None),
        ("https://c.com/b", None, None, "alice", "s3cret"),
        ("https://d.com/n", None, None, None, None),
    ]
    assert creds(run.frontier_t) == want
    assert creds(frontier) == want


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    """availableNow over the events parquet must reproduce the batch
    events_hourly rollup for on-time data."""
    import shutil

    from web_crawler_spark.streaming.ingest import hourly_rollup_stream

    src = "/root/testdata/sf0.001/events.parquet"
    sdir = tmp_path / "events"
    sdir.mkdir()
    shutil.copy(src, sdir / "events.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(str(sdir))
    rolled = hourly_rollup_stream(stream)
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["hour_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("select * from rollup_test").collect()
    }
    batch = spark.read.parquet(src)
    cents = F.round(F.col("value") * 100).cast("long")
    expected = {
        (r["h"], r["event_type"]): (r["n"], r["sv"])
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count("*").alias("n"), (F.sum(cents).cast("double") / 100.0).alias("sv"))
        .collect()
    }
    # watermark may hold back the final open window(s) in append mode;
    # everything emitted must match the batch result, and most must emit
    assert got
    for k, v in got.items():
        assert expected[k] == v
    assert len(got) >= len(expected) - len({k[1] for k in expected})


def test_title_meta_link_fallbacks(spark):
    from web_crawler_spark.functions.text import (
        link_text_fallback,
        meta_lookup,
        title_or_fallback,
    )

    df = spark.createDataFrame(
        [("T", "H", {"og:description": "og", "description": "d"}),
         ("  ", "H", {"description": "d"}),
         (None, " ", {})],
        "title string, h1 string, meta map<string,string>",
    )
    rows = df.select(
        title_or_fallback(F.col("title"), F.col("h1")).alias("t"),
        meta_lookup(F.col("meta"), "description", "og:description").alias("m"),
    ).collect()
    assert [r["t"] for r in rows] == ["T", "H", "Untitled"]
    assert [r["m"] for r in rows] == ["d", "d", None]
    links = spark.createDataFrame([("click", "u1"), ("", "u2")], ["text", "url"])
    got = links.select(link_text_fallback(F.col("text"), F.col("url")).alias("x")).collect()
    assert [r["x"] for r in got] == ["click", "u2"]


def test_export_sinks_roundtrip(spark, tmp_path):
    from web_crawler_spark.operators.sinks import export_csv, export_json

    df = spark.createDataFrame(
        [(1, "u1", ["txt", "md"], {"k": "v"}), (2, "u2", [], {})],
        "round int, url string, formats array<string>, meta map<string,string>",
    )
    jp, cp = str(tmp_path / "j"), str(tmp_path / "c")
    export_json(df, jp, partition_by=["round"])
    back = spark.read.json(jp)
    assert back.count() == 2 and "formats" in back.columns
    export_csv(df, cp)
    flat = spark.read.option("header", True).csv(cp)
    row = {r["url"]: r for r in flat.collect()}
    assert row["u1"]["formats"] == '["txt","md"]'


def test_html_to_markdown(spark):
    from web_crawler_spark.operators.sinks import html_to_markdown

    html = (
        '<h1>Title</h1><p>See <a href="https://x.com/">site</a> and '
        '<img src="https://x.com/a.png"></p>'
    )
    df = spark.createDataFrame([(html,), (None,)], ["content"])
    rows = [r["content"] for r in html_to_markdown(df).collect()]
    md = rows[0]
    assert "# Title" in md
    assert "[site](https://x.com/)" in md
    assert "![](https://x.com/a.png)" in md or "![](https://x.com/a.png" in md
    assert "<" not in md.replace("<br", "")  # tags gone
    assert rows[1] is None


def test_politeness_gate_stateful(spark, tmp_path):
    """applyInPandasWithState per-host budget: across multiple stream files,
    at most N rows admitted per host, in (ts, url) order, with a running
    admission sequence that survives micro-batch boundaries."""
    import datetime as dt

    from web_crawler_spark.streaming.stateful import politeness_gate

    src = tmp_path / "cand"
    src.mkdir()
    base = dt.datetime(2026, 1, 1)
    rows1 = [("h1.com", f"https://h1.com/{i}", base + dt.timedelta(seconds=i)) for i in range(4)]
    rows2 = [("h1.com", f"https://h1.com/{i}", base + dt.timedelta(seconds=i)) for i in range(4, 8)]
    rows2 += [("h2.com", f"https://h2.com/{i}", base + dt.timedelta(seconds=i)) for i in range(2)]
    schema = "host string, url string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = politeness_gate(stream, budget_per_host=5)
    q = (
        out.writeStream.format("memory")
        .queryName("gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from gate_test").collect()
    by_host: dict = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["h1.com"]) == 5  # budget binds across batches
    seqs = sorted(r["admitted_seq"] for r in by_host["h1.com"])
    assert seqs == [1, 2, 3, 4, 5]
    assert len(by_host["h2.com"]) == 2  # under budget, all admitted


def test_combine_results_multi_partition(spark):
    """The K5 ordering contract must hold when the input spans many shuffle
    partitions — the regression that a pre-agg orderBy does not survive
    collect_list."""
    n = 5000
    df = spark.range(n).repartition(16).select(
        F.col("id").alias("bulk_index"),
        F.concat(F.lit("<"), F.col("id").cast("string"), F.lit(">")).alias("content"),
    )
    got = combine_results(df, "bulk_index", "content").collect()[0]["combined"]
    assert got == "".join(f"<{i}>" for i in range(n))


def test_read_seeds_is_header_name_keyed(spark, tmp_path):
    """Seed CSVs with reordered columns must parse by NAME (the reference's
    DictReader contract), not silently by position."""
    import pytest as _pytest

    from web_crawler_spark.sources.seeds import AdmissionError, read_seeds

    p = tmp_path / "seeds.csv"
    p.write_text(
        "download_images,url,mode\n"
        "yes,https://a.com/x,link\n"
        ",https://b.com/y,\n"
    )
    rows = {r["url"]: r for r in read_seeds(spark, str(p)).collect()}
    assert rows["https://a.com/x"]["download_images"] is True
    assert rows["https://a.com/x"]["mode"] == "link"
    assert rows["https://b.com/y"]["mode"] == "content"  # default applied
    # a CSV without a url column is a hard admission error
    p2 = tmp_path / "nourl.csv"
    p2.write_text("link,mode\nx,content\n")
    with _pytest.raises(AdmissionError):
        read_seeds(spark, str(p2))


def test_seed_stream_new_checkpoint_applies_new_data(spark, tmp_path):
    """Idempotence markers are scoped per stream incarnation
    (streaming/marker.py): a SECOND stream with a fresh checkpoint feeding
    the same frontier table renumbers its batches from 0, and those batch
    ids must not collide with the first stream's markers — the new seeds
    would be silently skipped, which is never recoverable."""
    from web_crawler_spark.schemas import FRONTIER
    from web_crawler_spark.sources.lake import SnapshotTable
    from web_crawler_spark.streaming.ingest import ingest_seed_stream

    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.overwrite(spark.createDataFrame([], FRONTIER))

    d1 = tmp_path / "seeds1"
    d1.mkdir()
    (d1 / "a.csv").write_text("url,mode\nhttps://first.com/x,content\n")
    q1 = ingest_seed_stream(
        spark, str(d1), frontier, str(tmp_path / "ck1"), available_now=True
    )
    q1.awaitTermination(120)

    # second incarnation: new source dir, NEW checkpoint, same table —
    # its batch 0 must not be mistaken for ck1's batch 0
    d2 = tmp_path / "seeds2"
    d2.mkdir()
    (d2 / "b.csv").write_text("url,mode\nhttps://second.com/y,content\n")
    q2 = ingest_seed_stream(
        spark, str(d2), frontier, str(tmp_path / "ck2"), available_now=True
    )
    q2.awaitTermination(120)

    urls = sorted(r["url"] for r in frontier.read(spark, schema=FRONTIER).collect())
    assert urls == ["https://first.com/x", "https://second.com/y"]
