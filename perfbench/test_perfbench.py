"""Self-test of the benchmark at tiny sizes.

    python -m pytest perfbench/test_perfbench.py -q

- every workload runs end to end through ``run.py``, untraced and traced,
  prints every metric named in BENCHMARK.json with its unit and passes
  its output checks; the traced spans reconcile with each unit's wall;
- the frontier_backlog universe schedules the same fetches with the
  membership tier as without it;
- phash_prune's survivors on the image corpus equal a driver-side
  ``phash64`` plus brute-force Hamming reference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["frontier_backlog", "crawl_rounds", "image_dedup"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_end_to_end(workload, trace):
    info, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), k
    if trace:
        assert info["reconcile_err_max"] <= 0.10
        for self_s, wall in zip(info["round_self_s"], info["unit_s"]):
            assert 0 <= self_s <= wall
        if workload == "image_dedup":
            assert result["metrics"]["phash_table.rows"]["value"] > 0
            assert result["metrics"]["components.busy_s"]["value"] > 0
        else:
            assert result["metrics"]["lake.commits"]["value"] >= 4
            assert result["metrics"]["schedule.exec_run_s"]["value"] > 0
            assert result["metrics"]["fetch.exec_run_s"]["value"] > 0
    else:
        for name in ("setup_s", "pass_s", "items_per_s", "peak_rss_mb", "round_s_max"):
            assert result["metrics"][name]["value"] > 0, name


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from web_crawler_spark.session import get_spark

    s = get_spark("perfbench-selftest", parallelism=2)
    yield s
    s.stop()


def _fetches(spark, workdir: str, use_bloom: bool) -> list[tuple]:
    from perfbench.workloads import FrontierBacklog
    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun

    wl = FrontierBacklog(spark, workdir, seed=5, size="tiny")
    rd, _ = wl._generate()
    run = CrawlRun(
        spark, os.path.join(workdir, "run"),
        urls=rd["urls"], links=rd["links"], pages=rd["pages"], robots=rd["robots"],
        config=CrawlConfig(use_bloom=use_bloom, tier_kind="table", flush_every=1,
                           bloom_expected_keys=1024),
    )
    run.start(rd["seeds"])
    stats = [run.run_round() for _ in range(3)]
    if use_bloom:
        assert sum(m["rows_tier_positive"] for m in stats) > 0
    return sorted(
        tuple(r) for r in run.fetch_log_t.read(spark)
        .select("round", "fetch_seq", "url", "status").collect()
    )


def test_tiered_selection_equals_untiered(spark, tmp_path):
    tiered = _fetches(spark, str(tmp_path / "tiered"), use_bloom=True)
    plain = _fetches(spark, str(tmp_path / "plain"), use_bloom=False)
    assert tiered and tiered == plain


def _reference_survivors(rows, max_hamming: int) -> set[str]:
    """Decode gate + brute-force near-dup pairs + union-find, min id kept."""
    from web_crawler_spark.functions.images import decode_image, hamming64, phash64

    ph = {}
    for mid, blob in rows:
        try:
            ph[mid] = phash64(decode_image(bytes(blob)))
        except Exception:
            continue
    ids = sorted(ph)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if hamming64(ph[ids[a]], ph[ids[b]]) <= max_hamming:
                ra, rb = find(ids[a]), find(ids[b])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def test_image_survivors_match_reference(spark, tmp_path):
    from perfbench.workloads import ImageDedup

    wl = ImageDedup(spark, str(tmp_path), seed=9, size="tiny")
    wl.setup()
    stats = wl.unit(0)
    assert wl.check_unit(stats) == []
    rows = [(r.media_id, r.bytes) for r in wl.corpus.collect()]
    want = _reference_survivors(rows, ImageDedup.MAX_HAMMING)
    assert set(stats["kept"]) == want
    assert wl.check_end() == []
