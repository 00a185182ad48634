"""Driver-gate parity for the crawl-engine entries (VERDICT r1 #3): the
Spark crawl demo vs the independent pure-Python oracle crawler, compared the
way the driver does it — row count, schema, order-insensitive values —
through the actual read_parquet DuckDB oracles."""

from __future__ import annotations

import math
import os
import re

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"
ENTRIES = [
    "crawl_fetch_log",
    "crawl_metrics",
    "crawl_lineage",
    "bloom_prefilter_stats",
    # media suite: expected parquet generated by the pure-Python twins
    "image_phash_clusters",
    "media_resize",
    "video_frame_sample",
    "image_curation",
]

# image_curation's oracle rebuilds the planted-corrupt id set from `part`
TABLES = ["part"]


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact — both sides share the numpy computation
    return a == b


@pytest.mark.parametrize("name", ENTRIES)
def test_crawl_entry_matches_python_oracle(spark, name):
    import __spark_entry__ as E

    sqls = E.oracle_sql()  # also materializes the expected parquet
    assert name in sqls, f"{name} must now carry a DuckDB oracle"
    sdf = E.queries()[name](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{SF_DIR}/{tbl}.parquet'")
    ddf = con.sql(sqls[name]).df()

    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    cols = sorted(sdf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    d = ddf[cols].sort_values(cols).reset_index(drop=True)
    for i in range(len(s)):
        for c in cols:
            sv, dv = s[c].iloc[i], d[c].iloc[i]
            import pandas as pd

            sv = None if pd.isna(sv) else sv
            dv = None if pd.isna(dv) else dv
            assert _values_equal(sv, dv), f"{name} row {i} col {c}: {sv!r} != {dv!r}"


def test_oracle_lineage_strata_shape():
    """The Python oracle's lineage rows carry the engine's exact columns and
    pmod-16 partitioning, and sum to its own metrics."""
    from web_crawler_spark.plans.analytics import (
        _DEMO_BUDGET,
        _DEMO_ROUNDS,
        _demo_fixture_dir,
        _oracle_module,
    )
    import pandas as pd

    fdir = _demo_fixture_dir()
    oc = _oracle_module("crawler").OracleCrawler.from_fixture(fdir, default_budget=_DEMO_BUDGET)
    oc.start(list(pd.read_csv(f"{fdir}/seeds.csv").url))
    metrics = oc.run(max_rounds=_DEMO_ROUNDS)
    assert oc.lineage
    assert all(0 <= r["pkey"] < 16 for r in oc.lineage)
    by_round: dict[int, dict[str, int]] = {}
    for r in oc.lineage:
        d = by_round.setdefault(r["round"], {"rows_in": 0, "rows_selected": 0, "rows_fetched_ok": 0})
        for c in d:
            d[c] += r[c]
    for m in metrics:
        got = by_round.get(m["round"], {"rows_in": 0, "rows_selected": 0, "rows_fetched_ok": 0})
        assert got["rows_in"] == m["rows_in"]
        assert got["rows_selected"] == m["rows_selected"]
        assert got["rows_fetched_ok"] == m["rows_fetched_ok"]


def test_expected_outputs_built_once_by_one_rule():
    """After ``ensure_expected_outputs()`` every expected file a REGISTRY
    oracle reads exists — exactly the files the twins write — and a second
    call rewrites none of them. No Spark."""
    from web_crawler_spark.plans.analytics import (
        _TWINS,
        ORACLE_EXPECTED_DIR,
        REGISTRY,
        _keyed_path,
        ensure_expected_outputs,
    )

    ensure_expected_outputs()
    read = {
        p
        for _fn, sql in REGISTRY.values()
        if sql
        for p in re.findall(r"read_parquet\('([^']+)'\)", sql)
    }
    expected = {p for p in read if p.startswith(ORACLE_EXPECTED_DIR)}
    # the only other read is the saved-jobs log glob the Spark side writes
    assert all("*" in p for p in read - expected)
    assert expected == {_keyed_path(n) for names in _TWINS.values() for n in names}
    missing = sorted(p for p in expected if not os.path.exists(p))
    assert not missing, missing
    mtimes = {p: os.stat(p).st_mtime_ns for p in expected}
    ensure_expected_outputs()
    assert {p: os.stat(p).st_mtime_ns for p in expected} == mtimes


def test_oracle_tag_hashes_every_module_the_twins_import():
    """``ORACLE_TAG`` keys the expected files, so every package module
    loaded with the twins (``plans/analytics.py``) and ``tests/oracle/*.py``
    must be among the files it hashes: an edit to an unhashed one would
    leave a stale expected file that still counts as fresh. No Spark."""
    import glob
    import importlib
    import sys

    from web_crawler_spark.plans import analytics

    oracle_dir = os.path.join(os.path.dirname(__file__), "oracle")
    oracle_files = sorted(glob.glob(os.path.join(oracle_dir, "*.py")))
    for path in oracle_files:
        name = os.path.splitext(os.path.basename(path))[0]
        if name != "__init__":
            importlib.import_module(f"tests.oracle.{name}")
    hashed = {os.path.realpath(p) for p in analytics._oracle_sources()}
    imported = {
        os.path.realpath(m.__file__)
        for n, m in list(sys.modules.items())
        if n.split(".")[0] == "web_crawler_spark" and getattr(m, "__file__", None)
    }
    assert not imported - hashed, sorted(imported - hashed)
    assert {os.path.realpath(p) for p in oracle_files} <= hashed
