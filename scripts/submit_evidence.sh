#!/usr/bin/env bash
# North-rule launch evidence: run a crawl via `spark-submit --py-files` with
# the entry script staged OUTSIDE the repo, so the ONLY source of the
# web_crawler_spark package is the shipped zip — proving the artifact is
# cluster-launchable exactly as the rule states, then resume it from the
# run-dir checkpoint through the same launch mode.
#
# Reproduces the run recorded in COVERAGE.md §"spark-submit launch".
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK="${1:-/tmp/wcs-submit-evidence}"
SPARK_SUBMIT="${SPARK_SUBMIT:-spark-submit}"

rm -rf "$WORK" && mkdir -p "$WORK"
cd "$REPO"
python - <<EOF
from web_crawler_spark.sources.fixtures import generate_site
generate_site("$WORK/fixture", n_pages=400, n_hosts=40, n_seeds=10)
EOF
zip -qr "$WORK/wcs.zip" web_crawler_spark
cp scripts/submit_crawl.py "$WORK/entry.py"   # non-repo path: no repo on sys.path

cd "$WORK"
"$SPARK_SUBMIT" --master "local[8]" --py-files "$WORK/wcs.zip" "$WORK/entry.py" \
    --fixture-dir "$WORK/fixture" --run-dir "$WORK/run" \
    --use-bloom --max-rounds 4 | tee rounds_1_4.jsonl
"$SPARK_SUBMIT" --master "local[8]" --py-files "$WORK/wcs.zip" "$WORK/entry.py" \
    --fixture-dir "$WORK/fixture" --run-dir "$WORK/run" \
    --resume --use-bloom --max-rounds 7 | tee rounds_5_7.jsonl

python - <<'EOF'
import json
r14 = [json.loads(l) for l in open("rounds_1_4.jsonl") if l.startswith("{")]
r57 = [json.loads(l) for l in open("rounds_5_7.jsonl") if l.startswith("{")]
assert [r["round"] for r in r14] == [1, 2, 3, 4], r14
assert [r["round"] for r in r57] == [5, 6, 7], r57  # resumed, not restarted
print("OK: launched and resumed via spark-submit --py-files; "
      f"{sum(r['rows_selected'] for r in r14 + r57)} URLs fetched over 7 rounds")
EOF
