"""Benchmark harness: ALL driver-contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Prints ONE JSON line:
  {"metric": ..., "value": <total best-of-N sec>, "unit": "sec",
   "queries": {name: best sec, ...}, "queries_cold": {name: run-1 sec},
   "sf": ..., "frontier_urls_per_sec": ..., ...}

Comparability across rounds (VERDICT r2 #3): every query runs best-of-N
in one JVM (N=3, or 2 when the cold run exceeds 10s) — best-of filters
the run-to-run JVM/process noise that made round-over-round deltas
ambiguous in r2; the cold (run-1) time is reported alongside. The whole
registry is benched — zero excluded entries; the crawl_* entries time the
per-process demo-crawl path cold and the table-read path warm, while the
dedicated ``crawl_sec_per_round`` figure is the engine's per-round cost.
A side effect updates the per-query section of BENCH.md with a
delta-vs-previous-round column read from the latest BENCH_r{N}.json.

A synthetic-frontier throughput figure (the north metric, best-of-3) rides
along, untiered and with the membership tier: it times the crawl round's
own scheduling code, ``plans.round.schedule``, over a generated frontier.
scripts/bench_scaling.py reports it at two parallelism levels for the N→4N
scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from web_crawler_spark.plans.analytics import REGISTRY  # noqa: E402
from web_crawler_spark.session import get_spark  # noqa: E402

# display/run order: operator families first (the r1/r2 headline order, so
# old numbers line up), then every remaining registry entry
_R2_ORDER = [
    "frontier_schedule",
    "per_key_budget",
    "agg_success_rate",
    "broadcast_dim_join",
    "anti_join_unseen",
    "first_wins_dedupe",
    "topk_freq",
    "events_hourly",
    "url_normalize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_prune",
    "corpus_curation",
    "dedup_simhash",
    "doc_fingerprints",
    "scoped_extract",
    "robots_parse",
    "link_pagerank",
    "text_lang_id",
    "text_quality",
    "token_counts",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_neardup",
    "embedding_neardup_clusters",
    "media_meta",
]
HEADLINE = _R2_ORDER + sorted(set(REGISTRY) - set(_R2_ORDER))

SLOW_CUTOFF_SEC = 10.0  # cold runs beyond this get 1 rerun instead of 2


def materialize(df) -> None:
    """Execute the full plan without driver-side collection; the noop sink
    defeats column pruning that a bare count() would allow."""
    df.write.format("noop").mode("overwrite").save()


def _url_and_host(uid):
    """The generated url space: ``uid`` -> (url, host) with Zipfian-ish host
    skew via pmod(uid^2), so the salted two-phase window earns its keep."""
    host_id = F.pmod(F.pmod(uid, 997) * F.pmod(uid, 997), F.lit(9973))
    host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
    return F.concat(F.lit("https://"), host, F.lit("/p/"), uid.cast("string")), host


def frontier_throughput(
    spark, n_rows: int = 5_000_000, tiered: bool = False
) -> tuple[float, frozenset[int]]:
    """North-metric microbench: the crawl round's own scheduling half,
    ``plans.round.schedule``, over a generated frontier (no frontier
    storage — the 10^10 design point is reached by raising n_rows; per-row
    cost is what's being measured).

    The frontier is ``spark.range`` synthesized into FRONTIER-schema rows,
    ~20% of them duplicate urls, all at depth 0 so the generated priority
    holds. Untimed setup writes a seen table of n/10 urls from the same
    space and, with ``tiered``, flushes it into a ``TableSeenTiers`` blob
    table — in a crawl the tier persists across rounds. Timed: one
    ``schedule`` (8 URLs per host, 16 salt buckets, no robots rules) plus
    collecting the batch with its fetch_seq. Returns (URLs/s, the selected
    url_hashes); the tier moves work, never the selection."""
    import tempfile

    from web_crawler_spark.functions.urls import url_hash
    from web_crawler_spark.operators.membership import TableSeenTiers
    from web_crawler_spark.plans.round import CrawlConfig, frontier_rows, schedule
    from web_crawler_spark.schemas import ROBOTS
    from web_crawler_spark.sources.lake import SnapshotTable

    space = n_rows * 4 // 5
    uid = (F.col("id") * 809) % space
    url, host = _url_and_host(uid)
    frontier = frontier_rows(
        spark.range(n_rows).withColumns({"url": url, "host": host}),
        priority=(uid % 100000).cast("double"),
        depth=0,
        attempts=0,
        discovered_round=0,
    )
    robots = spark.createDataFrame([], ROBOTS)
    cfg = CrawlConfig(default_host_budget=8, salt_buckets=16)
    with tempfile.TemporaryDirectory(prefix="wcs-bench-frontier-") as work:
        seen_t = SnapshotTable(
            os.path.join(work, "seen"), stats_cols=["settled_round"]
        )
        seen_url, _ = _url_and_host((F.col("id") * 31) % space)
        seen_t.overwrite(
            spark.range(n_rows // 10).select(
                url_hash(seen_url).alias("url_hash"),
                seen_url.alias("url"),
                F.lit(1).alias("settled_round"),
            )
        )
        tiers = None
        if tiered:
            tiers = TableSeenTiers(
                os.path.join(work, "bloom"), max(n_rows // 10, 1024), flush_every=1
            )
            tiers.init_table()
            tiers.end_round(1, seen_t, spark)  # every seen key into the blobs

        t0 = time.time()
        sched = schedule(frontier, seen_t, robots, cfg, 1, tiers=tiers)
        batch = sched.batch.select("url_hash", "fetch_seq").collect()
        dt = time.time() - t0
        sched.release()
    return n_rows / dt, frozenset(r["url_hash"] for r in batch)


def image_pipeline_throughput(
    spark, n_images: int = 150_000, size: int = 64
) -> tuple[float, int]:
    """Image-payload scaling job (north rule, payload axis): synthesize →
    decode+phash (one Arrow pass) → pigeonhole band join → connected
    components → near-dup prune, reported as images/s through the full
    pipeline. The synth/decode/hash stages are Python-worker-bound, so this
    evidences the OTHER scaling axis from the frontier job: Arrow batch
    transfer and Python worker-pool utilization, the regime every real
    image operator (features, resize, curation gates) lives in. Every 8th
    image is a planted ``~d1`` near-dup; every 97th blob is corrupt (the
    decode gate drops it as an error row). The survivor count is
    value-deterministic — identical across parallelism levels.

    Composition note: synthesis (render+encode, per-image Python work
    standing in for fetch+transcode) runs INSIDE the timed window — the
    corpus is lazy, so the decode pass streams it. The non-scaling floor
    is the near-dup graph machinery (band join + star-contraction rounds +
    survivor joins, ~4-6s of driver/shuffle fixed cost at any local[N]);
    n_images × size must be large enough that per-image work dominates
    that floor, exactly as it does on a real corpus (where images are
    10-100× larger still). At 32×32/40k the job measured the fixed floor,
    not the payload axis — scaling efficiency said 0.24 while the decode
    stage itself scaled near-linearly."""
    import pandas as pd

    from web_crawler_spark.operators.multimodal import phash_prune

    base = spark.range(n_images).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        from web_crawler_spark.functions.images import encode_image, render_pixels

        for pdf in batches:
            ids, blobs = [], []
            for v in pdf["id"]:
                pk = int(v)
                mid = f"img_{pk - 7}~d1" if pk % 8 == 7 else f"img_{pk}"
                ids.append(mid)
                if pk % 97 == 0:
                    blobs.append(f"corrupt-{pk}".encode())
                else:
                    blobs.append(encode_image(render_pixels(mid, size, size), "png"))
            yield pd.DataFrame({"media_id": ids, "bytes": blobs})

    corpus = base.mapInPandas(gen, "media_id string, bytes binary")
    t0 = time.time()
    n_kept = phash_prune(corpus, max_hamming=2, bands=4).count()
    dt = time.time() - t0
    return n_images / dt, n_kept


def crawl_engine_bench(spark, n_pages: int = 1500, rounds: int = 3) -> dict:
    """Macro-bench of the REAL engine: CrawlRun with the words-table
    membership tier over a larger cached fixture. What this measures is
    the per-round FIXED orchestration cost (plan/commit/checkpoint) — the
    per-row cost is the frontier microbench above; at production scale a
    round carries millions of rows against the same fixed cost."""
    import tempfile

    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.sources.fixtures import generate_site, load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    # key the cache path by the oracle source tag (see
    # analytics._oracle_tag): generator and image-kernel edits self-invalidate
    from web_crawler_spark.plans.analytics import ORACLE_TAG

    fdir = os.path.join(tempfile.gettempdir(), f"wcs-bench-fixture-{n_pages}-{ORACLE_TAG}")
    marker = os.path.join(fdir, "_COMPLETE")
    if not os.path.exists(marker):
        generate_site(fdir, n_pages=n_pages, n_hosts=100, n_seeds=20)
        with open(marker, "w") as f:
            f.write("ok")
    run = CrawlRun(
        spark,
        tempfile.mkdtemp(prefix="wcs-bench-run-"),
        urls=load_fixture(spark, fdir, "urls"),
        links=load_fixture(spark, fdir, "links"),
        pages=load_fixture(spark, fdir, "pages"),
        robots=load_fixture(spark, fdir, "robots"),
        config=CrawlConfig(
            default_host_budget=16, max_rounds=rounds + 2, use_bloom=True
        ),
    )
    run.start(read_seeds(spark, f"{fdir}/seeds.csv"))
    # one UNTIMED warmup round: the first round pays one-time JIT/codegen
    # compilation (~2x the steady-state cost — measured 12s vs ~6s on this
    # VM), which a long-running crawl amortizes to zero. The reported
    # number is steady-state per-round cost, and says so via
    # crawl_warmup_rounds.
    warm = run.run_round()
    t0 = time.time()
    fetched = warm["rows_selected"]
    for _ in range(rounds):
        m = run.run_round()
        fetched += m["rows_selected"]
    dt = time.time() - t0
    return {
        "crawl_rounds": rounds,
        "crawl_warmup_rounds": 1,  # steady-state: round 1 (JIT) untimed
        "crawl_sec_per_round": round(dt / rounds, 2),
        "crawl_rows_fetched": fetched,
        "crawl_fixture_pages": n_pages,
    }


def _previous_round_queries() -> tuple[int | None, dict[str, float]]:
    """Per-query timings of the most recent BENCH_r{N}.json (delta column)."""
    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best_q = None, {}
    for fname in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fname)
        if not m:
            continue
        n = int(m.group(1))
        try:
            with open(os.path.join(here, fname)) as f:
                q = json.load(f).get("parsed", {}).get("queries", {})
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
        if q and (best_n is None or n > best_n):
            best_n, best_q = n, q
    return best_n, best_q


_MD_BEGIN = "<!-- QUERYBENCH:BEGIN -->"
_MD_END = "<!-- QUERYBENCH:END -->"


def _update_bench_md(
    timings: dict[str, float], cold: dict[str, float], sf, cpus: int
) -> None:
    """Rewrite BENCH.md's marker-delimited per-query section (the scaling
    section written by scripts/bench_scaling.py is left untouched)."""
    prev_n, prev = _previous_round_queries()
    prev_label = f"r{prev_n} (cold)" if prev_n is not None else "prev"
    lines = [
        _MD_BEGIN,
        "",
        "## Per-query timings (auto-written by bench.py)",
        "",
        f"All {len(timings)} registry entries at sf{sf} on local[{cpus}] —",
        "zero exclusions. Best-of-N in one JVM (N=3; 2 when the cold run",
        f"exceeds {SLOW_CUTOFF_SEC:.0f}s) vs the cold run-1 time; the delta",
        f"column compares cold-vs-cold against {prev_label}, the matching",
        "methodology (earlier rounds were single-shot cold). crawl_* query",
        "entries time the per-process demo-crawl (cold) / table-read (warm)",
        "path; the engine's own per-round cost is `crawl_sec_per_round` in",
        "the JSON line.",
        "",
        f"| query | best s | cold s | {prev_label} s | Δ cold |",
        "|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        b, c = timings[name], cold[name]
        p = prev.get(name)
        delta = f"{(c - p) / p * 100:+.0f}%" if p else "new"
        p_s = f"{p:.2f}" if p else "—"
        lines.append(f"| {name} | {b:.2f} | {c:.2f} | {p_s} | {delta} |")
    lines += ["", _MD_END]
    block = "\n".join(lines)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md")
    try:
        with open(path) as f:
            md = f.read()
    except FileNotFoundError:
        md = "# BENCH\n"
    if _MD_BEGIN in md and _MD_END in md:
        pre = md.split(_MD_BEGIN)[0]
        post = md.split(_MD_END, 1)[1]
        md = pre + block + post
    else:
        md = md.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(md)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench", parallelism=cpus)
    # warm up codegen/JIT and the file index so the first timed query isn't
    # charged session startup costs
    spark.range(1_000_000).select(F.xxhash64("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        runs: list[float] = []
        n_runs = 3
        while len(runs) < n_runs:
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            runs.append(time.time() - t0)
            if len(runs) == 1 and runs[0] > SLOW_CUTOFF_SEC:
                n_runs = 2
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)
        print(
            f"# {name}: best {timings[name]:.2f}s (cold {cold[name]:.2f}s, "
            f"{len(runs)} runs)",
            file=sys.stderr,
        )

    fr_runs = [frontier_throughput(spark) for _ in range(3)]
    urls_per_sec, sel = max(fr_runs, key=lambda t: t[0])
    ft_runs = [frontier_throughput(spark, tiered=True) for _ in range(3)]
    tiered_per_sec, tiered_sel = max(ft_runs, key=lambda t: t[0])
    crawl = crawl_engine_bench(spark)
    total = round(sum(timings.values()), 3)
    # SPARK_GRAFT_BENCH_MD=0 skips the BENCH.md rewrite: quick iteration
    # runs at a smaller sf / fewer cores would otherwise clobber the
    # committed table with numbers measured under a different methodology
    # (the delta column then compares across scales — meaningless)
    if os.environ.get("SPARK_GRAFT_BENCH_MD", "1") != "0":
        _update_bench_md(timings, cold, sf, cpus)
    print(
        json.dumps(
            {
                "metric": (
                    f"operator suite wall time ({len(HEADLINE)} queries, "
                    f"best of N)"
                ),
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "sf": sf,
                "frontier_urls_per_sec": round(urls_per_sec),
                "frontier_rows": 5_000_000,
                "frontier_selected": len(sel),
                "frontier_tiered_urls_per_sec": round(tiered_per_sec),
                "frontier_tiered_selected": len(tiered_sel),
                "cpus": cpus,
                **crawl,
            }
        )
    )


if __name__ == "__main__":
    main()
