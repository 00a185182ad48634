"""Driver-contract sanity: a fast subset of the registry, checked against
DuckDB at sf0.001 inside pytest (the full 28-query parity run lives in
scripts/check_oracle.py at sf0.01 — same comparison, bigger data)."""

from __future__ import annotations

import math

import duckdb
import pytest

from web_crawler_spark.plans.analytics import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# cheap-but-representative subset: one per operator family
SUBSET = [
    "agg_link_stats",
    "topk_freq",
    "per_key_budget",
    "first_wins_dedupe",
    "anti_join_unseen",
    "url_normalize",
    "content_stats",
    "frontier_schedule",
    "dedup_exact",
    "dedup_simhash",
    "dedup_prune",
    "corpus_curation",
    "token_counts",
    "ann_cosine_topk",
    "media_meta",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{SF_DIR}/{tbl}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9) if not math.isnan(v) else "nan"
    return v


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(_norm(row[c]) for c in cols) for _, row in df.iterrows())


@pytest.mark.parametrize("name", SUBSET)
def test_registry_query_matches_oracle(spark, duck, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR).toPandas()
    ddf = duck.sql(sql).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    assert _rowset(sdf) == _rowset(ddf)


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    names = set(E.queries())
    sqls = E.oracle_sql()
    assert set(sqls) <= names
    assert len(names) >= 25


def test_collision_suffix_dotfiles(spark):
    """os.path.splitext parity: '.hidden' has no extension, so suffixes
    append after the name, not before the dot."""
    from pyspark.sql import functions as F

    from web_crawler_spark.operators.dedupe import collision_suffix

    df = spark.createDataFrame(
        [(1, ".hidden"), (2, ".hidden"), (3, "a.jpg"), (4, "a.jpg")],
        ["idx", "name"],
    )
    rows = {r["idx"]: r["final_name"] for r in collision_suffix(df, "name", "idx").collect()}
    assert rows[1] == ".hidden" and rows[2] == ".hidden_1"
    assert rows[3] == "a.jpg" and rows[4] == "a_1.jpg"
