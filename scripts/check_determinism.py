"""Cross-parallelism determinism evidence (north rule).

Runs the SAME crawl (generated fixture, fixed seed) in two separate JVMs at
local[4] (N) and local[16] (4N) and diffs the complete fetch logs, seen
sets, per-round metrics and final checkpoints (round, table snapshot ids,
membership tier state). The north rule requires the fetch ordering and
final URL-seen set to be identical across cluster sizes; the engine's total
order (priority DESC, url_hash ASC; frontier dedupe closed over parent_url)
is what makes this hold.

Usage: python scripts/check_determinism.py
Prints one JSON line with "identical": true/false per artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

# the checkout this script belongs to: both children import its package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import sys, json, tempfile
from web_crawler_spark.session import get_spark
from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
from web_crawler_spark.sources.fixtures import load_fixture
from web_crawler_spark.sources.seeds import read_seeds
from web_crawler_spark.schemas import FETCH_LOG, SEEN

cpus, fixture_dir = int(sys.argv[1]), sys.argv[2]
spark = get_spark(f"det-{cpus}", parallelism=cpus, shuffle_partitions=cpus)
run = CrawlRun(spark, tempfile.mkdtemp(),
    urls=load_fixture(spark, fixture_dir, "urls"),
    links=load_fixture(spark, fixture_dir, "links"),
    pages=load_fixture(spark, fixture_dir, "pages"),
    robots=load_fixture(spark, fixture_dir, "robots"),
    config=CrawlConfig(default_host_budget=4, max_rounds=6, use_bloom=True))
run.start(read_seeds(spark, f"{fixture_dir}/seeds.csv"))
metrics = run.run(until_empty=True)
log = sorted(
    (r["round"], r["fetch_seq"], r["url"], r["status"], r["error_code"],
     r["attempts"], r["word_count"])
    for r in run.fetch_log_t.read(spark, schema=FETCH_LOG).collect())
seen = sorted(r["url_hash"] for r in run.seen_t.read(spark, schema=SEEN).collect())
frontier = sorted(map(tuple, run.frontier_t.read(spark).collect()))
print("RESULT" + json.dumps({
    "log": log, "seen": seen, "frontier": frontier,
    "metrics": [{k: m[k] for k in sorted(m)} for m in metrics],
    "checkpoint": run.checkpoint_state()}))
"""


def run_level(cpus: int, fixture_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cpus), fixture_dir],
        capture_output=True, text=True, timeout=900, cwd=ROOT,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"child (local[{cpus}]) failed rc={out.returncode}:\n{out.stderr[-3000:]}"
        )
    return json.loads(lines[-1][len("RESULT"):])


def main():
    # build the fixture once, shared by both child JVMs
    gen = (
        "import sys; from web_crawler_spark.sources.fixtures import generate_site;"
        f"generate_site(sys.argv[1], n_pages=400, n_hosts=20, n_seeds=8, neardup_rate=0.1)"
    )
    fixture_dir = tempfile.mkdtemp(prefix="det-fixture-")
    subprocess.run(
        [sys.executable, "-c", gen, fixture_dir], check=True, timeout=300, cwd=ROOT
    )

    a = run_level(4, fixture_dir)
    b = run_level(16, fixture_dir)
    report = {
        "levels": [4, 16],
        "fetch_log_identical": a["log"] == b["log"],
        "seen_set_identical": a["seen"] == b["seen"],
        "frontier_identical": a["frontier"] == b["frontier"],
        "metrics_identical": a["metrics"] == b["metrics"],
        # snapshot ids are sequential per table, so equal commit histories
        # give equal checkpoints
        "checkpoint_identical": a["checkpoint"] == b["checkpoint"],
        "fetch_log_rows": len(a["log"]),
        "rounds": len(a["metrics"]),
    }
    report["pass"] = all(
        report[k] for k in (
            "fetch_log_identical", "seen_set_identical",
            "frontier_identical", "metrics_identical", "checkpoint_identical",
        )
    )
    print(json.dumps(report))
    sys.exit(0 if report["pass"] else 1)


if __name__ == "__main__":
    main()
