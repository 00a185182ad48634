"""The oracle: a tiny single-process Python crawler pinning the engine's
crawl semantics (SURVEY §3 caveat — the reference is single-hop, so the
recursive-frontier semantics are pinned here, mirroring the reference's
per-page behavior: skip-list before normalization (link_extractor.py:100-105)
→ canonicalize → first-occurrence-wins dedupe (:109-113) → priority queue
with per-host politeness, strict (priority DESC, url_hash ASC) total order).

The Spark engine must reproduce this oracle's exact fetch ordering
(round, fetch_seq, url) and final URL-seen set for the same seed list and
politeness budget — the north rule's round-trip check.

Shares only *scalar* helpers with the engine (canonicalization, xxh64,
fault rules, image codec — all plain Python/numpy, no Spark), so the two
implementations of the *dataflow* are independent.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from urllib.parse import urlparse

import pandas as pd

from web_crawler_spark.functions.hashing import xxh64_str
from web_crawler_spark.functions.images import (
    PSNR_THRESHOLD_DB,
    decode_image,
    psnr,
    render_pixels,
)
from web_crawler_spark.functions.text import py_ws_token_count
from web_crawler_spark.functions.urls import (
    py_canonicalize,
    py_host,
    py_is_skippable,
    py_is_valid_url,
)
from web_crawler_spark.operators.faults import (
    DEPTH_PRIORITY_STEP,
    MAX_ATTEMPTS,
    py_band_priority,
    py_discovered_priority,
    py_is_transient_fault,
)

DEFAULT_HOST_BUDGET = 4


@dataclass
class FrontierRow:
    url: str
    url_hash: int
    host: str | None
    priority: float
    depth: int
    attempts: int
    discovered_round: int
    parent_url: str | None


@dataclass
class OracleCrawler:
    urls: dict[str, str]  # url -> image_id
    pages: dict[str, dict]  # image_id -> {bytes, caption, phash, w, h, fmt}
    links: dict[str, list[dict]]  # src_url -> [{href, pos}...] sorted by pos
    robots: dict[str, dict]  # host -> {prefixes, budget}
    default_budget: int = DEFAULT_HOST_BUDGET
    round_window_ms: int = 60_000  # crawl-delay → per-round budget (engine twin)
    max_attempts: int = MAX_ATTEMPTS
    exclude_anchors: bool = True
    follow_links: bool = True
    priority_source: str = "depth"  # 'depth' | 'pagerank' (engine twin)
    pagerank_iters: int = 3
    priority_aging: int = 0  # rounds per band promotion, 0 = off (engine twin)
    _ranks: dict[int, int] | None = None

    frontier: list[FrontierRow] = field(default_factory=list)
    seen: dict[int, str] = field(default_factory=dict)  # url_hash -> url
    fetch_log: list[dict] = field(default_factory=list)
    success_phashes: set[int] = field(default_factory=set)
    round: int = 0
    # per-round, per-hash-partition counters — twin of the engine's lineage
    # table (plans/round.py: pkey = pmod(url_hash, LINEAGE_PARTITIONS))
    lineage: list[dict] = field(default_factory=list)
    lineage_partitions: int = 16

    # ------------------------------------------------------------------

    @classmethod
    def from_fixture(cls, fixture_dir: str, **kw) -> "OracleCrawler":
        urls_df = pd.read_parquet(f"{fixture_dir}/urls.parquet")
        pages_df = pd.read_parquet(f"{fixture_dir}/pages.parquet")
        links_df = pd.read_parquet(f"{fixture_dir}/links.parquet")
        robots_df = pd.read_parquet(f"{fixture_dir}/robots.parquet")
        links: dict[str, list[dict]] = {}
        for r in links_df.sort_values("pos").itertuples():
            links.setdefault(r.src_url, []).append({"href": r.href, "pos": r.pos})
        return cls(
            urls=dict(zip(urls_df.url, urls_df.image_id)),
            pages={
                r.image_id: {
                    "bytes": r.bytes,
                    "caption": r.caption,
                    "phash": r.phash,
                }
                for r in pages_df.itertuples()
            },
            links=links,
            robots={
                r.host: {
                    "prefixes": list(r.disallow_prefixes),
                    "budget": int(r.max_per_round),
                    "crawl_delay_ms": int(r.crawl_delay_ms)
                    if r.crawl_delay_ms is not None
                    else None,
                }
                for r in robots_df.itertuples()
            },
            **kw,
        )

    # ------------------------------------------------------------------

    def start(self, seed_urls: list[str]) -> None:
        """Admission — valid seeds → FIFO-priority frontier; invalid seeds →
        round-0 validation_error log rows (reference tasks.py:496-504)."""
        invalid_seq = 0
        for i, raw in enumerate(seed_urls):
            url = raw.split("#", 1)[0] if self.exclude_anchors else raw
            if not py_is_valid_url(url):
                invalid_seq += 1
                self.fetch_log.append(
                    {
                        "round": 0,
                        "fetch_seq": invalid_seq,
                        "url": url,
                        "url_hash": xxh64_str(url),
                        "host": py_host(url),
                        "status": "failed",
                        "error_type": "validation_error",
                        "error_code": "INVALID_URL",
                        "retry_possible": False,
                        "attempts": 0,
                        "image_id": None,
                        "psnr_db": None,
                        "caption_ok": None,
                        "phash_dup": None,
                        "word_count": None,
                        "char_count": None,
                    }
                )
                continue
            self.frontier.append(
                FrontierRow(
                    url=url,
                    url_hash=xxh64_str(url),
                    host=py_host(url),
                    priority=py_band_priority(0, i),
                    depth=0,
                    attempts=0,
                    discovered_round=0,
                    parent_url=None,
                )
            )

    # ------------------------------------------------------------------

    def _path(self, url: str) -> str:
        """Engine twin of the robots-matching path: query/fragment excluded,
        and '/' for path-less URLs (RFC 9309 §2.2.2 — 'Disallow: /' must
        block 'https://example.com' too). Must agree byte-for-byte with
        operators/politeness.py:robots_filter."""
        try:
            return urlparse(url).path or "/"
        except ValueError:
            return "/"

    def _fetch_one(self, row: FrontierRow, fetch_seq: int, rnd: int) -> dict:
        image_id = self.urls.get(row.url)
        rec = {
            "round": rnd,
            "fetch_seq": fetch_seq,
            "url": row.url,
            "url_hash": row.url_hash,
            "host": row.host,
            "attempts": row.attempts,
            "image_id": image_id,
            "psnr_db": None,
            "caption_ok": None,
            "phash_dup": None,
            "word_count": None,
            "char_count": None,
        }
        if py_is_transient_fault(row.url, row.attempts):
            rec.update(
                status="failed", error_type="network_error", error_code="TIMEOUT",
                retry_possible=True,
            )
            return rec
        if image_id is None:
            rec.update(
                status="failed", error_type="http_error", error_code="404",
                retry_possible=False,
            )
            return rec
        page = self.pages[image_id]
        if page["bytes"] is None:
            rec.update(
                status="failed", error_type="content_error",
                error_code="EMPTY_CONTENT", retry_possible=False,
            )
            return rec
        caption = page["caption"]
        # engine parity (round.py): caption_ok is evaluated for every
        # non-transient row with bytes, regardless of decode success; an
        # undecodable payload yields psnr_db = NULL (the UDF's NaN becomes
        # SQL NULL through the Arrow pandas→JVM conversion)
        rec["caption_ok"] = caption is not None
        try:
            px = decode_image(bytes(page["bytes"]))
            p = psnr(px, render_pixels(image_id, px.shape[1], px.shape[0]))
        except (ValueError, zlib.error):
            p = None
        rec["psnr_db"] = p
        if p is None:
            rec.update(
                status="failed", error_type="content_error",
                error_code="DECODE_FAILED", retry_possible=False,
            )
            return rec
        if p < PSNR_THRESHOLD_DB:
            rec.update(
                status="failed", error_type="content_error",
                error_code="PSNR_BELOW_THRESHOLD", retry_possible=False,
            )
            return rec
        if caption is None:
            rec.update(
                status="failed", error_type="validation_error",
                error_code="CAPTION_MISMATCH", retry_possible=False,
            )
            return rec
        rec.update(
            status="success", error_type=None, error_code=None,
            retry_possible=False,
            word_count=py_ws_token_count(caption),
            char_count=len(caption),
        )
        return rec

    def _pagerank_ranks(self) -> dict[int, int]:
        """Integer PageRank twin of operators/graph.py: identical edge
        derivation (skip-list → canonicalize → validity), RANK_SCALE init,
        (1−d) base + d·Σ contrib with integer floor divisions — the ranks
        are bit-identical to the Spark frame by construction."""
        if self._ranks is not None:
            return self._ranks
        RANK_SCALE, D_NUM, D_DEN = 1_000_000, 85, 100
        edges: set[tuple[int, int]] = set()
        for src_url, lst in self.links.items():
            for link in lst:
                if py_is_skippable(link["href"]):
                    continue
                child = py_canonicalize(
                    link["href"], src_url, strip_fragment=self.exclude_anchors
                )
                if child is None or not py_is_valid_url(child):
                    continue
                edges.add((xxh64_str(src_url), xxh64_str(child)))
        nodes = {u for u, _ in edges} | {v for _, v in edges}
        out: dict[int, int] = {}
        for u, _ in edges:
            out[u] = out.get(u, 0) + 1
        base = (RANK_SCALE * (D_DEN - D_NUM)) // D_DEN
        rank = {n: RANK_SCALE for n in nodes}
        for _ in range(self.pagerank_iters):
            s: dict[int, int] = {}
            for u, v in edges:
                s[v] = s.get(v, 0) + rank[u] // out[u]
            rank = {n: base + (D_NUM * s.get(n, 0)) // D_DEN for n in nodes}
        self._ranks = rank
        return rank

    def run_round(self) -> dict:
        rnd = self.round + 1
        rows_in = len(self.frontier)
        frontier_at_start = list(self.frontier)

        # depth-aware priority recompute (engine does the same at round
        # start); pagerank mode blends the rank bonus inside the depth band
        for r in self.frontier:
            if r.depth > 0:
                band_depth = r.depth
                if self.priority_aging > 0:
                    age = (rnd - 1) - r.discovered_round  # >= 0 by construction
                    band_depth = max(1, r.depth - age // self.priority_aging)
                if self.priority_source == "pagerank":
                    bonus = min(
                        self._pagerank_ranks().get(r.url_hash, 0),
                        DEPTH_PRIORITY_STEP - 1,
                    )
                    r.priority = py_discovered_priority(band_depth) + float(bonus)
                else:
                    r.priority = py_discovered_priority(band_depth)

        # first-wins best-discovery dedupe per url_hash
        best: dict[int, FrontierRow] = {}
        for r in sorted(
            self.frontier,
            key=lambda r: (-r.priority, r.discovered_round, -r.attempts),
        ):
            best.setdefault(r.url_hash, r)
        deduped = rows_in - len(best)

        # exact seen anti-join
        unseen = [r for r in best.values() if r.url_hash not in self.seen]

        # robots filter
        allowed, blocked = [], []
        for r in unseen:
            pol = self.robots.get(r.host or "", {})
            path = self._path(r.url)
            if any(path.startswith(p) for p in pol.get("prefixes", [])):
                blocked.append(r)
            else:
                allowed.append(r)
        for r in blocked:
            self.fetch_log.append(
                {
                    "round": rnd,
                    "fetch_seq": 0,
                    "url": r.url,
                    "url_hash": r.url_hash,
                    "host": r.host,
                    "status": "skipped",
                    "error_type": "permission_error",
                    "error_code": "ROBOTS_DISALLOWED",
                    "retry_possible": False,
                    "attempts": r.attempts,
                    "image_id": None,
                    "psnr_db": None,
                    "caption_ok": None,
                    "phash_dup": None,
                    "word_count": None,
                    "char_count": None,
                }
            )
            self.seen[r.url_hash] = r.url

        # per-host budgeted selection by (priority DESC, url_hash ASC)
        by_host: dict[str | None, list[FrontierRow]] = {}
        for r in allowed:
            by_host.setdefault(r.host, []).append(r)
        selected: list[FrontierRow] = []
        for host, rows in by_host.items():
            pol = self.robots.get(host or "", {})
            budget = pol.get("budget", self.default_budget)
            delay = pol.get("crawl_delay_ms")
            if delay:
                # twin of politeness.with_host_budget(rnd=...): a delay
                # longer than the round window fetches once every
                # ceil(delay/window) rounds (rounds 1, 1+p, 1+2p, ...)
                period = -(-delay // self.round_window_ms)
                if period > 1:
                    budget = min(budget, 1 if (rnd - 1) % period == 0 else 0)
                else:
                    budget = min(budget, max(1, int(self.round_window_ms / delay)))
            rows.sort(key=lambda r: (-r.priority, r.url_hash))
            selected.extend(rows[:budget])

        # deterministic total order → fetch_seq
        selected.sort(key=lambda r: (-r.priority, r.url_hash))
        selected_hashes = {r.url_hash for r in selected}

        # fetch + validate + settle
        retries: list[FrontierRow] = []
        fetched_ok: list[tuple[FrontierRow, dict]] = []
        failed_rows: list[FrontierRow] = []
        n_failed = 0
        for seq, r in enumerate(selected, start=1):
            rec = self._fetch_one(r, seq, rnd)
            if rec["status"] == "success":
                ph = self.pages[rec["image_id"]]["phash"]
                rec["phash_dup"] = ph in self.success_phashes
                self.success_phashes.add(ph)
                fetched_ok.append((r, rec))
            else:
                n_failed += 1
                failed_rows.append(r)
            self.fetch_log.append(rec)
            if rec["retry_possible"] and (r.attempts + 1) < self.max_attempts:
                retries.append(
                    FrontierRow(
                        url=r.url, url_hash=r.url_hash, host=r.host,
                        priority=r.priority, depth=r.depth,
                        attempts=r.attempts + 1,
                        discovered_round=r.discovered_round,
                        parent_url=r.parent_url,
                    )
                )
            else:
                self.seen[r.url_hash] = r.url

        # discovery
        discovered: list[FrontierRow] = []
        if self.follow_links:
            for r, _rec in fetched_ok:
                seen_children: set[str] = set()
                for link in self.links.get(r.url, []):
                    if py_is_skippable(link["href"]):
                        continue
                    child = py_canonicalize(
                        link["href"], r.url, strip_fragment=self.exclude_anchors
                    )
                    if child is None or not py_is_valid_url(child):
                        continue
                    if child in seen_children:  # in-page first-wins (D1/D2)
                        continue
                    seen_children.add(child)
                    discovered.append(
                        FrontierRow(
                            url=child,
                            url_hash=xxh64_str(child),
                            host=py_host(child),
                            priority=py_discovered_priority(r.depth + 1),
                            depth=r.depth + 1,
                            attempts=0,
                            discovered_round=rnd,
                            parent_url=r.url,
                        )
                    )

        # lineage strata (engine twin: plans/round.py full-joins the four
        # per-pkey counts; a pkey appears if it appears in ≥1 stratum)
        P = self.lineage_partitions
        strata: dict[int, dict[str, int]] = {}

        def bump(rows, col):
            for r_ in rows:
                pk = r_.url_hash % P  # Python % is floor-mod == Spark pmod
                d = strata.setdefault(
                    pk,
                    {"rows_in": 0, "rows_selected": 0, "rows_fetched_ok": 0, "rows_failed": 0},
                )
                d[col] += 1

        bump(frontier_at_start, "rows_in")
        bump(selected, "rows_selected")
        bump([r_ for r_, _rec in fetched_ok], "rows_fetched_ok")
        bump(failed_rows, "rows_failed")
        for pk in sorted(strata):
            self.lineage.append({"round": rnd, "pkey": pk, **strata[pk]})

        leftover = [r for r in allowed if r.url_hash not in selected_hashes]
        self.frontier = leftover + retries + discovered
        self.round = rnd
        return {
            "round": rnd,
            "rows_in": rows_in,
            "rows_deduped": deduped,
            "rows_robots_blocked": len(blocked),
            "rows_selected": len(selected),
            "rows_fetched_ok": len(fetched_ok),
            "rows_failed": n_failed,
            "rows_retried": len(retries),
            "rows_discovered": len(discovered),
        }

    def run(self, max_rounds: int = 50) -> list[dict]:
        out = []
        while self.round < max_rounds:
            m = self.run_round()
            out.append(m)
            if m["rows_in"] == 0:
                break
        return out
