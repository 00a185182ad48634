"""Bloom URL-seen tier: no false negatives ever; fp-rate sane; the
distributed words build/probe round-trips and matches the numpy reference;
tier checkpoint states of other families and sizings reset safely."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators.bloom import (
    WORDS_SCHEMA,
    PartitionedBloom,
    _bits_to_words,
    or_merge_words,
    probe_words_joined,
)


@pytest.fixture(scope="module")
def hashes():
    rng = np.random.RandomState(42)
    return rng.randint(-(2**62), 2**62, size=20000, dtype=np.int64)


def test_bloom_no_false_negatives(hashes):
    bf = PartitionedBloom.sized_for(10000, n_partitions=16)
    inserted, other = hashes[:10000], hashes[10000:]
    bf.add_hashes(inserted)
    assert bf.might_contain(inserted).all(), "false negative!"
    fp = bf.might_contain(other).mean()
    assert fp < 0.01, f"fp rate {fp}"


def _keys(spark, arr):
    return spark.createDataFrame([(int(h),) for h in arr], "url_hash long")


def test_bloom_distributed_build_and_probe(spark, hashes):
    """Build the words table in two incremental OR-merges, probe it
    JVM-side: every inserted key is a hit, the fp rate is sane, and the
    merged words equal the numpy reference's bits partition for partition."""
    bf = PartitionedBloom.sized_for(5000, n_partitions=8)
    first, second = hashes[:3000], hashes[3000:5000]
    sizing = dict(m=bf.m, k=bf.k, p=bf.p)
    empty = spark.createDataFrame([], schema=WORDS_SCHEMA)
    t1 = or_merge_words(_keys(spark, first), empty, **sizing).localCheckpoint()
    t2 = or_merge_words(_keys(spark, second), t1, **sizing).localCheckpoint()
    bf.add_hashes(hashes[:5000])
    got = {r.pkey: list(r.words) for r in t2.collect()}
    want = {key: _bits_to_words(blob).tolist() for key, blob in bf.blobs.items()}
    assert got == want
    probed = probe_words_joined(_keys(spark, hashes[:5000]), t2, **sizing)
    assert all(r.might_contain for r in probed.collect())
    other = probe_words_joined(_keys(spark, hashes[10000:11000]), t2, **sizing)
    fp = np.mean([r.might_contain for r in other.collect()])
    assert fp < 0.02


def test_bloom_persistence_roundtrip(spark, hashes, tmp_path):
    """numpy blobs → words rows in a snapshot table → read back: the JVM
    probe over the persisted table answers like the in-memory filter."""
    from web_crawler_spark.sources.lake import SnapshotTable

    bf = PartitionedBloom.sized_for(1000, n_partitions=4)
    bf.add_hashes(hashes[:1000])
    table = SnapshotTable(str(tmp_path / "bloom"))
    table.overwrite_local(
        [{"pkey": key, "words": _bits_to_words(blob).tolist()} for key, blob in bf.blobs.items()],
        WORDS_SCHEMA,
    )
    words = table.read(spark, schema=WORDS_SCHEMA)
    cand = hashes[:2000]
    got = {
        r.url_hash: r.might_contain
        for r in probe_words_joined(_keys(spark, cand), words, m=bf.m, k=bf.k, p=bf.p).collect()
    }
    assert got == dict(zip(cand.tolist(), bf.might_contain(cand).tolist()))
    assert all(got[int(h)] for h in hashes[:1000])


def test_words_probe_jvm_matches_all_other_paths(spark, hashes):
    """The JVM column-expression probe (words layout) == the numpy
    reference probe, row for row — including the empty-table (all definite
    negatives) case. Also pins that the probe plan contains NO Python
    evaluation node."""
    bf = PartitionedBloom.sized_for(8000, n_partitions=8)
    inserted = hashes[:8000]
    cand_keys = np.concatenate([inserted[:2000], hashes[10000:16000]])
    seen = spark.createDataFrame([(int(v),) for v in inserted], "url_hash long")
    cand = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(cand_keys)], "url_hash long, pos int"
    )
    empty_w = spark.createDataFrame([], schema=WORDS_SCHEMA)
    words = or_merge_words(seen, empty_w, m=bf.m, k=bf.k, p=bf.p).localCheckpoint()

    jvm_df = probe_words_joined(cand, words, m=bf.m, k=bf.k, p=bf.p)
    r_jvm = {r.url_hash: r.might_contain for r in jvm_df.collect()}
    bf.add_hashes(inserted)
    r_drv = dict(zip(cand_keys.tolist(), bf.might_contain(cand_keys).tolist()))
    assert r_jvm == r_drv
    assert all(r_jvm[int(v)] for v in inserted[:2000])  # no false negatives
    # candidate columns pass through untouched
    assert {f.name for f in jvm_df.schema.fields} == {"url_hash", "pos", "might_contain"}
    # the whole point: zero Python in the probe plan
    plan = jvm_df._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"python node {marker} in JVM probe plan"
    # empty words table → every candidate is a definite negative
    none = probe_words_joined(cand, empty_w, m=bf.m, k=bf.k, p=bf.p)
    assert none.filter(F.col("might_contain")).count() == 0


def test_tiers_checkpoint_family_mismatch_resets_safely(spark, tmp_path):
    """A tier state written under a different bloom hash family, or no
    state at all (a checkpoint from before the tier state moved into
    checkpoint.json), must not surface the table's bits (false negatives
    = exactness bug): the tier resets to an empty words table + watermark
    0 with the config's sizing, so the exact hot slice covers everything.
    A same-family state round-trips intact through JSON."""
    from web_crawler_spark.functions.hashing import BLOOM_FAMILY
    from web_crawler_spark.operators.membership import TableSeenTiers

    path = str(tmp_path / "bloom")
    tiers = TableSeenTiers(path, expected_keys=1024, bloom_partitions=4)
    tiers.init_table()
    tiers.blob_table.overwrite_local(
        [{"pkey": 0, "words": [-1] * (tiers.bloom.m // 64)}], WORDS_SCHEMA
    )
    tiers.flushed_round = 7
    state = json.loads(json.dumps(tiers.state()))
    assert state["family"] == BLOOM_FAMILY

    same = TableSeenTiers(path, expected_keys=1024, bloom_partitions=4)
    same.restore(state)
    assert same.flushed_round == 7
    assert same.blob_table.read(spark, schema=WORDS_SCHEMA).count() == 1

    sizing = (tiers.bloom.p, tiers.bloom.m, tiers.bloom.k)
    for stale in ({**state, "family": "km0"}, None):
        tiers.blob_table.overwrite_local(
            [{"pkey": 0, "words": [-1] * (tiers.bloom.m // 64)}], WORDS_SCHEMA
        )
        loaded = TableSeenTiers(path, expected_keys=1024, bloom_partitions=4)
        loaded.restore(stale)
        assert loaded.flushed_round == 0, stale  # hot slice covers all
        assert (loaded.bloom.p, loaded.bloom.m, loaded.bloom.k) == sizing
        # stale bits discarded
        assert loaded.blob_table.read(spark, schema=WORDS_SCHEMA).count() == 0


def test_legacy_unaligned_checkpoint_loads_and_flushes(spark, tmp_path):
    """A state from before the blocked family recorded an m that is 64-
    but not 512-aligned. It resets to the config's sizing (m padded to
    whole 512-bit blocks) — adopting m raw made the next flush fail in
    ``bloom_indices``."""
    from web_crawler_spark.operators.membership import TableSeenTiers
    from web_crawler_spark.schemas import SEEN
    from web_crawler_spark.sources.lake import SnapshotTable

    path = str(tmp_path / "bloom")
    tiers = TableSeenTiers(path, expected_keys=1024, bloom_partitions=4)
    tiers.restore(
        {
            "family": "xr2", "sizing": [4, 1088, 10],
            "flushed_round": 3, "flush_every": 1, "table_sid": None,
        }
    )
    assert tiers.bloom.m % 512 == 0 and tiers.bloom.m >= 1088
    assert (tiers.bloom.p, tiers.bloom.k, tiers.flushed_round) == (4, 10, 0)

    seen_t = SnapshotTable(str(tmp_path / "seen"), stats_cols=["settled_round"])
    keys = spark.range(200).select(
        F.xxhash64(F.col("id")).alias("url_hash"),
        F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("url"),
        F.lit(4).cast("int").alias("settled_round"),
    )
    seen_t.overwrite(keys.select([f.name for f in SEEN.fields]))
    tiers.end_round(4, seen_t, spark)  # the flush that used to raise
    assert tiers.flushed_round == 4
    probed = tiers.probe(keys.select("url_hash"), spark, seen_t)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_words_probe_rejects_misaligned_m(spark):
    """``m`` that is not a whole number of 512-bit blocks fails loudly at
    the probe's entry, as the numpy side does — never as silent false
    negatives from a mis-sized block index."""
    words = spark.createDataFrame([], schema=WORDS_SCHEMA)
    cand = spark.range(10).selectExpr("xxhash64(id) AS url_hash")
    with pytest.raises(ValueError, match="512"):
        probe_words_joined(cand, words, m=1088, k=10, p=4)


def test_derived_partitions_cap_blob_size_at_design_point(tmp_path):
    """The 10^10-key design point must SIZE correctly by default: P derived
    from expected_keys (not a fixed 16) so each array<long> blob stays in
    the tens of MB and probe parallelism scales with the filter
    (r4 VERDICT Wrong #2). Construct-only — no 17 GB of bits allocated."""
    from web_crawler_spark.operators.membership import TableSeenTiers

    tiers = TableSeenTiers(str(tmp_path / "bloom"), expected_keys=10**10)
    bf = tiers.bloom
    assert bf.p == 1024
    blob_mb = bf.m / 8 / 2**20
    assert 10 <= blob_mb <= 32, f"blob {blob_mb:.1f} MiB"
    # derived sizing round-trips through the checkpoint's JSON state
    tiers.init_table()
    loaded = TableSeenTiers(str(tmp_path / "bloom"))
    loaded.restore(json.loads(json.dumps(tiers.state())))
    assert (loaded.bloom.p, loaded.bloom.m, loaded.bloom.k) == (bf.p, bf.m, bf.k)
    # small filters keep the 16-partition floor (probe parallelism never
    # collapses), exactly the previous default
    assert PartitionedBloom.sized_for(1 << 20).p == 16


def test_explicit_partition_count_with_oversized_blobs_fails_loudly():
    """An explicit P that yields >64 MiB blobs is a config error the
    constructor must reject — not a silent 1.1 GB-per-row table."""
    with pytest.raises(ValueError, match="blob would be"):
        PartitionedBloom.sized_for(10**10, n_partitions=16)


def test_words_probe_keeps_index_projection_uncollapsed(spark):
    """The ~20x probe cliff guard (ADVICE r4 #3): the k bloom indexes are
    aliased in their own Project, referenced as bare columns by the bit
    tests above — each xorshift/rotate/pmod subtree evaluated ONCE per
    row. That now rests on CollapseProject's non-cheap-duplicate check
    (SPARK-36718) declining to merge adjacent Projects; a Spark upgrade
    that re-inlines them would silently re-ship the 20x regression. Pin
    the shape: each __bi alias survives into the optimized plan, and the
    index-defining pmod appears exactly once per probe (k for the
    indexes + 1 for the partition key)."""
    from web_crawler_spark.operators.bloom import (
        WORDS_SCHEMA,
        PartitionedBloom,
        probe_words_joined,
    )

    bf = PartitionedBloom.sized_for(1000, n_partitions=4)
    words = spark.createDataFrame([], schema=WORDS_SCHEMA)
    probe = spark.range(10).selectExpr("xxhash64(id) AS url_hash")
    out = probe_words_joined(probe, words, m=bf.m, k=bf.k, p=bf.p)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__bb#" in plan, (
        "__bb (block base) alias collapsed out of the optimized plan — "
        "the block pmod would re-evaluate once per index column"
    )
    for i in range(bf.k):
        assert f"__bi{i}#" in plan, (
            f"__bi{i} alias collapsed out of the optimized plan — "
            "CollapseProject merged the index projection into the bit "
            "tests; every index subtree now evaluates twice per row"
        )
    # blocked family: exactly ONE block pmod + one pkey pmod per row — the
    # k in-block positions are plain AND-masks referencing __bb
    n_pmod = plan.count("pmod(")
    assert n_pmod == 2, (
        f"expected 1 block pmod + 1 pkey pmod, found {n_pmod}: index "
        "subtrees are being duplicated (or folded away) in the optimized plan"
    )


def test_words_probe_filter_consumer_keeps_projection(spark):
    """The REAL consumption pattern — probed.filter(might_contain) — must
    NOT collapse the index projection into the Filter: PushDownPredicate
    would substitute the aliases and re-inline every index subtree twice
    (measured 1.7s -> 35.5s on a 10^8-row probe at k=10; k>=4 falls off
    the generated-code threshold). The probe's non-deterministic fence
    (`bloom._pushdown_fence`) blocks the substitution; pin that the
    Filter reads the materialized boolean, with the index aliases intact
    below it."""
    from pyspark.sql import functions as F

    from web_crawler_spark.operators.bloom import (
        WORDS_SCHEMA,
        PartitionedBloom,
        probe_words_joined,
    )

    bf = PartitionedBloom.sized_for(1000, n_partitions=4)
    words = spark.createDataFrame([], schema=WORDS_SCHEMA)
    probe = spark.range(10).selectExpr("xxhash64(id) AS url_hash")
    out = (
        probe_words_joined(probe, words, m=bf.m, k=bf.k, p=bf.p)
        .filter(F.col("might_contain"))
        .select("url_hash")
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    filter_lines = [l for l in plan.splitlines() if "Filter " in l]
    assert filter_lines and all(
        "might_contain#" in l and "getbit" not in l for l in filter_lines
    ), (
        "the filter no longer reads the materialized might_contain column "
        "- the fence stopped blocking predicate pushdown and the 20x "
        f"inlined-filter cliff is back: {filter_lines}"
    )
    for i in range(bf.k):
        assert f"__bi{i}#" in plan, f"__bi{i} collapsed under the filter"


def test_words_probe_lets_other_predicates_reach_the_scan(spark, tmp_path):
    """The fence holds back only predicates on ``might_contain``: a
    ``host`` filter written after the probe must still be pushed through
    the probe's projections and its join into the candidates' scan, so
    only that host's candidates are probed."""
    from web_crawler_spark.operators.bloom import (
        WORDS_SCHEMA,
        PartitionedBloom,
        probe_words_joined,
    )

    path = str(tmp_path / "cand")
    spark.range(100).selectExpr(
        "xxhash64(id) AS url_hash", "concat('h', id % 5) AS host"
    ).write.parquet(path)
    bf = PartitionedBloom.sized_for(1000, n_partitions=4)
    words = spark.createDataFrame([], schema=WORDS_SCHEMA)
    out = (
        probe_words_joined(spark.read.parquet(path), words, m=bf.m, k=bf.k, p=bf.p)
        .filter(F.col("host") == "h1")
        .filter(F.col("might_contain"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1 and "EqualTo(host,h1)" in scans[0], (
        f"the host predicate stopped above the probe: {scans}"
    )
    assert out.count() == 0  # an empty filter holds no key
