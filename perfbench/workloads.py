"""The benchmark's workloads: inputs generated from ``--seed``, an untimed
set-up and warm-up, timed units (crawl rounds or image passes) and the
checks on their outputs. Only public engine entry points are called:
``CrawlRun.start`` / ``CrawlRun.run_round`` and
``operators.multimodal.phash_prune``.

Each workload exposes ``setup()``, ``unit(i)`` (one timed round or pass,
returns its stats), ``check_unit(stats)`` and ``check_end()`` (lists of
failure messages; designed 404s and content errors are data, not failures),
and ``items(stats)`` for the throughput. Optional: a ``make_inputs``
classmethod that writes the inputs without Spark (run while the session
starts) and ``prepare(i)``, untimed work before unit ``i``."""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

# Sizes per workload: "full" is what BENCHMARK.json runs, "tiny" is the
# self-test's. Each timed unit runs after the listed warm-up units.
SIZES = {
    "frontier_backlog": {
        "full": dict(n_seeds=6_000, links=10, pages=64, warmup=2, timed=1),
        "tiny": dict(n_seeds=3_000, links=8, pages=32, warmup=1, timed=2),
    },
    "crawl_rounds": {
        "full": dict(n_pages=1500, n_hosts=100, n_seeds=20, warmup=1, timed=2),
        "tiny": dict(n_pages=200, n_hosts=15, n_seeds=8, warmup=1, timed=2),
    },
    "image_dedup": {
        "full": dict(n_images=4_000, px=64, warmup=2, timed=4),
        "tiny": dict(n_images=600, px=32, warmup=1, timed=2),
    },
}


ROBOTS_SCHEMA = (
    "host string, disallow_prefixes array<string>, crawl_delay_ms int, max_per_round int"
)


def _inputs_dir(workdir: str) -> str:
    return os.path.join(workdir, "inputs")


class FrontierBacklog:
    """A synthetic universe made with numpy and crawled through ``CrawlRun``
    with the table tier.

    - seeds: ``n_seeds`` rows, ~20% of them repeat another seed's URL;
    - hosts: Zipf(1) via ``floor((H+1)^u) - 1``; ``H = n_seeds / 200`` with
      a per-host budget of 1-3, so the fetch batch is ~1% of the frontier;
    - every 7th URL sits under ``/private/``, disallowed on even hosts, so
      round 1 settles ~7% of the frontier as robots-blocked;
    - every page has ``links`` hrefs: 30% to ``/private/`` URLs (already
      settled: the tier sees positives), 5% to missing pages (404s),
      the rest uniform over the universe (duplicates of frontier rows);
    - pages: a few dozen rendered images reused across URLs.

    ``flush_every=1``: the tier flushes at the end of every round, so the
    timed round probes a filter built from round 1 (false positives
    possible) and pays one flush.

    Round 1 runs once. Every later unit replays round 2 over the same
    state: ``prepare`` restores the checkpoint left by round 1 and resumes
    a new ``CrawlRun`` from it, which rolls every lake table and the tier's
    blob table back. Each replay must return the same counters as the
    first round 2."""

    name = "frontier_backlog"
    ROUND_WINDOW_MS = 60_000

    def __init__(self, spark, workdir: str, seed: int, size: str):
        self.spark, self.workdir, self.seed, self.size = spark, workdir, seed, size
        self.cfg = SIZES[self.name][size]
        self.run = None
        self.inputs: dict = {}
        self.mark: str | None = None
        self.round2: dict | None = None

    @classmethod
    def make_inputs(cls, workdir: str, seed: int, size: str) -> None:
        """Write the universe as parquet under ``workdir/inputs``. Needs no
        Spark session, so it can run while the session starts."""
        from web_crawler_spark.functions.images import (
            encode_image,
            phash64,
            render_pixels,
        )

        cfg = SIZES[cls.name][size]
        n, n_links, n_pages = cfg["n_seeds"], cfg["links"], cfg["pages"]
        n_hosts = max(4, n // 200)
        rng = np.random.RandomState(seed)
        uid = np.arange(n)
        host = np.floor(np.exp(rng.random_sample(n) * math.log(n_hosts + 1))).astype(int) - 1
        url = np.array(
            [f"https://h{h}.bench.test/{'private' if u % 7 == 3 else 'p'}/{u}"
             for u, h in zip(uid, host)],
            dtype=object,
        )
        d = _inputs_dir(workdir)
        os.makedirs(d, exist_ok=True)
        pd.DataFrame({
            "url": url,
            "image_id": [f"img_{seed}_{k}" for k in rng.randint(0, n_pages, n)],
        }).to_parquet(os.path.join(d, "urls.parquet"))

        src = np.repeat(uid, n_links)
        r = rng.random_sample(n * n_links)
        private_tgt = rng.randint(0, max(1, n // 7), n * n_links) * 7 + 3
        any_tgt = rng.randint(0, n, n * n_links)
        href = np.where(r < 0.30, url[private_tgt],
                        np.where(r < 0.35, url[src] + "/missing", url[any_tgt]))
        pd.DataFrame({
            "src_url": url[src],
            "href": href,
            "pos": np.tile(np.arange(1, n_links + 1, dtype="int32"), n),
        }).to_parquet(os.path.join(d, "links.parquet"))

        dup = rng.randint(0, 5, n) == 0
        pd.DataFrame({
            "row_index": uid,
            "url": url[np.where(dup, rng.randint(0, n, n), uid)],
        }).to_parquet(os.path.join(d, "seeds.parquet"))

        hosts = np.arange(n_hosts)
        pd.DataFrame({
            "host": [f"h{h}.bench.test" for h in hosts],
            "disallow_prefixes": [["/private/"] if h % 2 == 0 else [] for h in hosts],
            "crawl_delay_ms": (100 + 50 * rng.randint(0, 10, n_hosts)).astype("int32"),
            "max_per_round": (1 + rng.randint(0, 3, n_hosts)).astype("int32"),
        }).to_parquet(os.path.join(d, "robots.parquet"))
        recs = []
        for k in range(n_pages):
            iid = f"img_{seed}_{k}"
            px = render_pixels(iid, 32, 32)
            recs.append((iid, encode_image(px, "png"), f"Caption for {iid}.", phash64(px)))
        pd.DataFrame(recs, columns=["image_id", "bytes", "caption", "phash"]).to_parquet(
            os.path.join(d, "pages.parquet"))

    def _generate(self) -> tuple[dict, pd.DataFrame]:
        """The crawl's input frames and the robots table as pandas, read
        from what ``make_inputs`` wrote (made here if it is not there)."""
        d = _inputs_dir(self.workdir)
        if not os.path.exists(os.path.join(d, "pages.parquet")):
            self.make_inputs(self.workdir, self.seed, self.size)
        spark = self.spark
        robots = pd.read_parquet(os.path.join(d, "robots.parquet"))
        robots["disallow_prefixes"] = robots.disallow_prefixes.map(list)
        return {
            "urls": spark.read.parquet(os.path.join(d, "urls.parquet")),
            "links": spark.read.parquet(os.path.join(d, "links.parquet")),
            "seeds": spark.read.parquet(os.path.join(d, "seeds.parquet")),
            "robots": spark.createDataFrame(robots, ROBOTS_SCHEMA),
            "pages": spark.createDataFrame(pd.read_parquet(os.path.join(d, "pages.parquet"))),
        }, robots

    def _crawl_run(self):
        from web_crawler_spark.plans.round import CrawlConfig, CrawlRun

        return CrawlRun(
            self.spark,
            os.path.join(self.workdir, "run"),
            **self.inputs,
            config=CrawlConfig(
                use_bloom=True,
                tier_kind="table",
                flush_every=1,
                bloom_expected_keys=max(1024, self.cfg["n_seeds"] // 16),
                round_window_ms=self.ROUND_WINDOW_MS,
            ),
        )

    def setup(self) -> None:
        t = time.time()
        rd, robots = self._generate()
        self.phases = {"inputs_s": time.time() - t}
        self.budget_sum = int(sum(
            min(mp, max(1, self.ROUND_WINDOW_MS // cd))
            for mp, cd in zip(robots.max_per_round, robots.crawl_delay_ms)
        ))
        self.inputs = {k: rd[k] for k in ("urls", "links", "pages", "robots")}
        self.run = self._crawl_run()
        t = time.time()
        self.run.start(rd["seeds"])
        self.phases["start_s"] = time.time() - t

    def _checkpoint_path(self) -> str:
        return os.path.join(self.run.run_dir, "checkpoint.json")

    def prepare(self, i: int) -> None:
        """Untimed, before unit ``i``: keep round 1's checkpoint, and from
        unit 1 on rewind to it so the unit replays round 2."""
        if i == 1:
            with open(self._checkpoint_path()) as f:
                self.mark = f.read()
        if i >= 1:
            with open(self._checkpoint_path(), "w") as f:
                f.write(self.mark)
            self.run.close()
            self.run = self._crawl_run()
            if self.run.resume() != 1:
                raise RuntimeError("resume did not return to the end of round 1")

    def unit(self, i: int) -> dict:
        return self.run.run_round()

    def items(self, stats: dict) -> int:
        return stats["rows_in"]

    def check_unit(self, m: dict) -> list[str]:
        from web_crawler_spark.schemas import FETCH_LOG, FRONTIER, SEEN

        errs = []
        if m["round"] == 2:
            self.round2 = self.round2 or dict(m)
            if m != self.round2:
                errs.append("a replay of round 2 returned other counters than the first")
        probed = m["rows_tier_negative"] + m["rows_tier_positive"]
        if m["rows_in"] - m["rows_deduped"] != probed:
            errs.append(f"round {m['round']}: rows_in - rows_deduped != tier negatives + positives")
        if m["rows_selected"] > self.budget_sum:
            errs.append(f"round {m['round']}: selected {m['rows_selected']} > budgets {self.budget_sum}")
        run, spark = self.run, self.spark
        seqs = (
            run.fetch_log_t.read(spark, schema=FETCH_LOG)
            .filter((F.col("round") == m["round"]) & (F.col("fetch_seq") > 0))
            .agg(F.count("*").alias("n"), F.min("fetch_seq").alias("lo"),
                 F.max("fetch_seq").alias("hi"),
                 F.countDistinct("fetch_seq").alias("d"))
            .collect()[0]
        )
        if not (seqs.n == seqs.d == m["rows_selected"]
                and (seqs.n == 0 or (seqs.lo == 1 and seqs.hi == seqs.n))):
            errs.append(f"round {m['round']}: fetch_seq is not 1..{m['rows_selected']}")
        # links discovered this round may name settled URLs (the next
        # round's tier drops them), so only the carried-over part of the
        # next frontier must be disjoint from seen; and nothing fetched
        # this round may have been settled before it
        seen = run.seen_t.read(spark, schema=SEEN)
        carried = (
            run.frontier_t.read(spark, schema=FRONTIER)
            .filter(F.col("discovered_round") < m["round"])
            .join(seen, "url_hash", "left_semi")
        )
        refetched = (
            run.fetch_log_t.read(spark, schema=FETCH_LOG)
            .filter((F.col("round") == m["round"]) & (F.col("fetch_seq") > 0))
            .join(seen.filter(F.col("settled_round") < m["round"]), "url_hash", "left_semi")
        )
        if carried.limit(1).count():
            errs.append(f"round {m['round']}: a carried-over frontier row is already seen")
        if refetched.limit(1).count():
            errs.append(f"round {m['round']}: a URL settled earlier was fetched again")
        return errs

    def check_end(self) -> list[str]:
        return []

    def info(self, timed: list[dict]) -> dict:
        m = timed[-1]
        probed = m["rows_tier_negative"] + m["rows_tier_positive"]
        return {
            "dup_share": m["rows_deduped"] / max(1, m["rows_in"]),
            "tier_positive_share": m["rows_tier_positive"] / max(1, probed),
            "rows_in": m["rows_in"],
            "rows_selected": m["rows_selected"],
        }


class CrawlRounds:
    """``CrawlRun`` (table tier, flush every 2 rounds) over a
    ``generate_site`` fixture. ``generate_site`` pins its own seed, so
    ``--seed`` only picks which pages seed the crawl. The fetch order and the seen set are checked
    against the pure-Python oracle crawler on the same fixture and rounds."""

    name = "crawl_rounds"

    def __init__(self, spark, workdir: str, seed: int, size: str):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.cfg = SIZES[self.name][size]
        self.run = None

    def setup(self) -> None:
        from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
        from web_crawler_spark.sources.fixtures import generate_site, load_fixture

        spark, cfg = self.spark, self.cfg
        self.fixture = os.path.join(self.workdir, "fixture")
        generate_site(self.fixture, n_pages=cfg["n_pages"], n_hosts=cfg["n_hosts"],
                      n_seeds=cfg["n_seeds"])
        urls = pd.read_parquet(os.path.join(self.fixture, "urls.parquet")).url.tolist()
        rng = np.random.RandomState(self.seed)
        picked = [urls[i] for i in sorted(rng.choice(len(urls), cfg["n_seeds"], replace=False))]
        # one duplicate and one invalid seed, as in the fixture's own list
        self.seed_urls = picked + [picked[0], "not-a-url"]
        self.run = CrawlRun(
            spark,
            os.path.join(self.workdir, "run"),
            urls=load_fixture(spark, self.fixture, "urls"),
            links=load_fixture(spark, self.fixture, "links"),
            pages=load_fixture(spark, self.fixture, "pages"),
            robots=load_fixture(spark, self.fixture, "robots"),
            config=CrawlConfig(use_bloom=True, tier_kind="table", flush_every=2),
        )
        self.run.start(
            spark.createDataFrame(list(enumerate(self.seed_urls)), ["row_index", "url"])
        )

    def unit(self, i: int) -> dict:
        return self.run.run_round()

    def items(self, stats: dict) -> int:
        return stats["rows_selected"]

    def check_unit(self, m: dict) -> list[str]:
        return []

    def check_end(self) -> list[str]:
        from tests.oracle.crawler import OracleCrawler

        oracle = OracleCrawler.from_fixture(self.fixture)
        oracle.start(self.seed_urls)
        oracle.run(max_rounds=self.run.round)
        want_log = sorted(
            (r["round"], r["fetch_seq"], r["url"]) for r in oracle.fetch_log
        )
        got_log = sorted(
            (r["round"], r["fetch_seq"], r["url"])
            for r in self.run.fetch_log_t.read(self.spark)
            .select("round", "fetch_seq", "url").collect()
        )
        got_seen = {
            r.url_hash for r in self.run.seen_t.read(self.spark).select("url_hash").collect()
        }
        errs = []
        if got_log != want_log:
            errs.append("fetch order (round, fetch_seq, url) differs from the oracle")
        if got_seen != set(oracle.seen):
            errs.append("seen set differs from the oracle")
        return errs

    def info(self, timed: list[dict]) -> dict:
        return {"rows_selected": [m["rows_selected"] for m in timed]}


def _media_id(seed: int, pk: int) -> str:
    return f"s{seed}_{pk - 7:07d}~d1" if pk % 8 == 7 else f"s{seed}_{pk:07d}"


class ImageDedup:
    """``phash_prune`` over a seeded synthetic corpus, written to parquet
    before the timed passes so a pass decodes and hashes, not synthesises."""

    name = "image_dedup"
    MAX_HAMMING, BANDS = 2, 4

    def __init__(self, spark, workdir: str, seed: int, size: str):
        self.spark, self.workdir, self.seed, self.size = spark, workdir, seed, size
        self.cfg = SIZES[self.name][size]
        self.digests: list[tuple[int, str]] = []

    @classmethod
    def make_inputs(cls, workdir: str, seed: int, size: str) -> None:
        """Write the corpus of ``bench.image_pipeline_throughput`` with
        seeded ids as one parquet file per core, ids dealt round-robin.
        Every 8th image is a planted ``~d1`` near-duplicate of the image 7
        ids before it; every 97th blob is corrupt. Needs no Spark session,
        so it can run while the session starts."""
        from web_crawler_spark.functions.images import encode_image, render_pixels

        cfg = SIZES[cls.name][size]
        n, px = cfg["n_images"], cfg["px"]
        parts = len(os.sched_getaffinity(0))
        d = os.path.join(_inputs_dir(workdir), "corpus")
        os.makedirs(d, exist_ok=True)
        for part in range(parts):
            ids, blobs = [], []
            for pk in range(part, n, parts):
                mid = _media_id(seed, pk)
                ids.append(mid)
                if pk % 97 == 0:
                    blobs.append(f"corrupt-{pk}".encode())
                else:
                    blobs.append(encode_image(render_pixels(mid, px, px), "png"))
            pd.DataFrame({"media_id": ids, "bytes": blobs}).to_parquet(
                os.path.join(d, f"part-{part:05d}.parquet"))

    def setup(self) -> None:
        d = os.path.join(_inputs_dir(self.workdir), "corpus")
        if not os.path.isdir(d):
            self.make_inputs(self.workdir, self.seed, self.size)
        self.corpus = self.spark.read.parquet(d)

    def unit(self, i: int) -> dict:
        from web_crawler_spark.operators.multimodal import phash_prune

        kept = phash_prune(
            self.corpus, max_hamming=self.MAX_HAMMING, bands=self.BANDS
        ).select("media_id").collect()
        return {"kept": sorted(r.media_id for r in kept)}

    def items(self, stats: dict) -> int:
        return self.cfg["n_images"]

    def _corrupt_ids(self) -> set[str]:
        n = self.cfg["n_images"]
        return {_media_id(self.seed, pk) for pk in range(0, n, 97)}

    def check_unit(self, stats: dict) -> list[str]:
        kept = stats["kept"]
        digest = hashlib.sha256("\n".join(kept).encode()).hexdigest()
        stats["digest"] = digest
        self.digests.append((len(kept), digest))
        self.last_kept = set(kept)
        errs = []
        if self.digests[0] != (len(kept), digest):
            errs.append("kept count / survivor digest differ between passes")
        if self._corrupt_ids() & set(kept):
            errs.append("a corrupt blob survived the decode gate")
        if len(set(kept)) != len(kept):
            errs.append("duplicate survivor ids")
        return errs

    def check_end(self) -> list[str]:
        """Planted pairs on a seeded sample: a variant whose base decodes
        and lies within the Hamming bound must not survive next to it."""
        from web_crawler_spark.functions.images import decode_image, hamming64, phash64

        n = self.cfg["n_images"]
        rng = np.random.RandomState(self.seed)
        variants = [pk for pk in range(7, n, 8) if pk % 97 and (pk - 7) % 97]
        sample = sorted(rng.choice(variants, min(32, len(variants)), replace=False))
        ids = {}
        for pk in sample:
            ids[f"s{self.seed}_{pk - 7:07d}"] = None
            ids[f"s{self.seed}_{pk - 7:07d}~d1"] = None
        rows = self.corpus.filter(F.col("media_id").isin(list(ids))).collect()
        ph = {r.media_id: phash64(decode_image(bytes(r.bytes))) for r in rows}
        errs = []
        for pk in sample:
            base = f"s{self.seed}_{pk - 7:07d}"
            var = base + "~d1"
            if hamming64(ph[base], ph[var]) <= self.MAX_HAMMING and var in self.last_kept:
                errs.append(f"planted near-duplicate {var} survived")
        return errs

    def info(self, timed: list[dict]) -> dict:
        kept, digest = self.digests[-1]
        return {"kept": kept, "digest": digest[:16]}


WORKLOADS = {w.name: w for w in (FrontierBacklog, CrawlRounds, ImageDedup)}
