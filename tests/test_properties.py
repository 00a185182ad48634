"""Property-based tests (hypothesis) over the pure-Python cores the engine's
determinism rests on: hashing parity, the Bloom filter, canonicalizer
semantics. No SparkSession needed — these run fast and wide."""

from __future__ import annotations

import hashlib
from urllib.parse import urljoin

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from web_crawler_spark.functions.hashing import xxh64_str
from web_crawler_spark.functions.urls import (
    py_canonicalize,
    py_is_skippable,
    py_is_valid_url,
)
from web_crawler_spark.operators.bloom import PartitionedBloom


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_xxh64_is_signed_64bit_and_deterministic(s):
    a, b = xxh64_str(s), xxh64_str(s)
    assert a == b
    assert -(1 << 63) <= a < (1 << 63)


@given(st.lists(st.integers(min_value=-(1 << 62), max_value=1 << 62), min_size=1, max_size=300, unique=True))
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(keys):
    bf = PartitionedBloom.sized_for(expected_keys=max(len(keys), 16), n_partitions=4)
    bf.add_hashes(keys)
    assert bf.might_contain(np.asarray(keys, dtype=np.int64)).all()


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80))
@settings(max_examples=200, deadline=None)
def test_canonicalize_absolute_is_idempotent(path):
    base = "https://example.com/dir/page.html"
    out = py_canonicalize(path, base)
    if out and py_is_valid_url(out):
        # canonicalizing an already-canonical URL is a fixed point
        assert py_canonicalize(out, base) == out


@given(st.sampled_from(["#x", "mailto:a@b", "tel:123", "javascript:void(0)", ""]))
def test_skip_list_total(href):
    assert py_is_skippable(href)


@given(st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_skiplist_vs_urljoin_consistency(href):
    """Non-skippable hrefs must survive urljoin without raising — the E3
    isolation property: one bad href never aborts a batch."""
    if not py_is_skippable(href):
        py_canonicalize(href, "https://example.com/a/b")  # must not raise


def _md5_long_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_md5_long_range(s):
    v = _md5_long_py(s)
    assert 0 <= v < (1 << 60)


@given(
    st.lists(st.integers(min_value=0, max_value=1 << 59), min_size=4, max_size=60),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=100, deadline=None)
def test_sparse_min_doubling_matches_naive(hashes, log_w):
    """The associative-doubling sliding minimum (text._sliding_min's math)
    equals the naive per-window minimum for every power-of-two window."""
    w = 1 << (log_w % 3 + 1)  # 2, 4 or 8
    if len(hashes) < w:
        return
    naive = [min(hashes[j : j + w]) for j in range(len(hashes) - w + 1)]
    # doubling in pure python, mirroring the Spark expression
    acc = list(hashes)
    span = 1
    while span < w:
        acc = [
            min(a, b)
            for a, b in zip(acc, acc[span:] + [float("inf")] * span)
        ]
        span *= 2
    assert acc[: len(hashes) - w + 1] == naive


@given(
    st.lists(  # 1-3 files, each 1-40 rows of nullable ints
        st.lists(
            st.one_of(st.none(), st.integers(min_value=-(1 << 62), max_value=1 << 62)),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=3,
    ),
    st.integers(min_value=1, max_value=8),  # rows per parquet row group
)
@settings(max_examples=60, deadline=None)
def test_footer_stats_fold_matches_ground_truth(tmp_path_factory, files, rg_rows):
    """The driver-side parquet-footer fold (SnapshotTable._footer_stats)
    equals the exact min/max/count over arbitrary multi-file, multi-row-group
    commits with any null layout — the property the stats-pruned scan's
    correctness rests on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_crawler_spark.sources.lake import SnapshotTable

    d = tmp_path_factory.mktemp("footer")
    for i, vals in enumerate(files):
        t = pa.table({"settled_round": pa.array(vals, pa.int64())})
        pq.write_table(t, str(d / f"part-{i:05d}.parquet"), row_group_size=rg_rows)
    st_obj = SnapshotTable.__new__(SnapshotTable)
    st_obj.stats_cols = ["settled_round"]
    got = st_obj._footer_stats(str(d))
    assert got is not None
    flat = [v for vals in files for v in vals]
    present = [v for v in flat if v is not None]
    want_min = min(present) if present else None
    want_max = max(present) if present else None
    assert got["n_rows"] == len(flat)
    assert got["cols"] == {"settled_round": [want_min, want_max]}
    # per-FILE granularity (the post-compaction pruning path): each file's
    # entry must equal the exact min/max/count of that file alone
    assert sorted(got["files"]) == [f"part-{i:05d}.parquet" for i in range(len(files))]
    for i, vals in enumerate(files):
        fpresent = [v for v in vals if v is not None]
        fmin = min(fpresent) if fpresent else None
        fmax = max(fpresent) if fpresent else None
        assert got["files"][f"part-{i:05d}.parquet"] == {
            "n_rows": len(vals),
            "cols": {"settled_round": [fmin, fmax]},
        }
