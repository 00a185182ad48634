"""Cluster entry point: run a crawl via spark-submit (north rule launch).

    zip -r wcs.zip web_crawler_spark
    spark-submit --py-files wcs.zip scripts/submit_crawl.py \
        --fixture-dir /data/site --run-dir /data/run1 \
        [--resume] [--use-bloom] [--host-budget 4] [--max-rounds 50]

On a cluster the session master/executors come from spark-submit;
``get_spark`` only pins confs (UTC, AQE, Arrow) and never overrides the
master when one is configured (SPARK_MASTER env or spark-submit). Local
smoke: ``python scripts/submit_crawl.py --fixture-dir ... --run-dir ...``
runs the same code on local[*].
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Python WORKERS don't inherit the driver's sys.path — they get PYTHONPATH
# from the JVM environment. Under spark-submit, --py-files ships the package;
# for the plain-python local smoke (launched from any cwd), export it before
# the JVM starts or every pickled UDF dies with ModuleNotFoundError.
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--fixture-dir", required=True, help="site tables (urls/links/pages/robots parquet + seeds.csv)")
    ap.add_argument("--run-dir", required=True, help="state directory (frontier/seen/fetch_log/metrics/lineage)")
    ap.add_argument("--resume", action="store_true", help="resume from the run-dir checkpoint")
    ap.add_argument(
        "--use-bloom",
        action="store_true",
        help="enable the Bloom membership tier (blobs as snapshot-table rows "
        "under run-dir/bloom, probed JVM-side)",
    )
    ap.add_argument("--host-budget", type=int, default=4)
    ap.add_argument("--max-rounds", type=int, default=50)
    ap.add_argument("--no-follow-links", action="store_true")
    args = ap.parse_args()

    from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
    from web_crawler_spark.session import get_spark
    from web_crawler_spark.sources.fixtures import load_fixture
    from web_crawler_spark.sources.seeds import read_seeds

    spark = get_spark("wcs-crawl")
    cfg = CrawlConfig(
        default_host_budget=args.host_budget,
        max_rounds=args.max_rounds,
        follow_links=not args.no_follow_links,
        use_bloom=args.use_bloom,
    )
    run = CrawlRun(
        spark,
        args.run_dir,
        urls=load_fixture(spark, args.fixture_dir, "urls"),
        links=load_fixture(spark, args.fixture_dir, "links"),
        pages=load_fixture(spark, args.fixture_dir, "pages"),
        robots=load_fixture(spark, args.fixture_dir, "robots"),
        config=cfg,
    )
    if args.resume:
        rnd = run.resume()
        print(f"# resumed at round {rnd}", file=sys.stderr)
    else:
        run.start(read_seeds(spark, f"{args.fixture_dir}/seeds.csv"))
    for m in run.run(until_empty=True):
        print(json.dumps(m))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
