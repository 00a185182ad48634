"""Codec invariants + vectorized validation UDFs over Spark."""

from __future__ import annotations

import hashlib
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_crawler_spark.functions.images import (
    PSNR_THRESHOLD_DB,
    decodable_udf,
    decode_image,
    encode_image,
    hamming64,
    phash64,
    phash64_batch,
    phash_bits,
    phash_many,
    phash_udf,
    psnr,
    psnr_vs_reference_udf,
    render_pixels,
)


def test_codec_roundtrip_psnr():
    px = render_pixels("img_x", 64, 48)
    assert decode_image(encode_image(px, "png")).tobytes() == px.tobytes()
    for fmt in ("jpeg", "webp"):
        got = decode_image(encode_image(px, fmt))
        assert psnr(got, px) >= PSNR_THRESHOLD_DB


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_image(b"not an image")


def test_render_is_deterministic_and_distinct():
    a = render_pixels("img_1", 32, 32)
    b = render_pixels("img_1", 32, 32)
    c = render_pixels("img_2", 32, 32)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_neardup_variant_phash_close():
    base = render_pixels("img_9", 64, 64)
    dup = render_pixels("img_9~d3", 64, 64)
    other = render_pixels("img_10", 64, 64)
    assert hamming64(phash64(base), phash64(dup)) <= 4
    assert hamming64(phash64(base), phash64(other)) > 10


def test_validation_udfs(spark):
    rows = []
    for iid, fmt in [("img_a", "png"), ("img_b", "jpeg"), ("img_c", "webp")]:
        px = render_pixels(iid, 32, 32)
        rows.append((iid, bytearray(encode_image(px, fmt))))
    rows.append(("img_corrupt", bytearray(b"garbage")))
    rows.append(("img_null", None))
    df = spark.createDataFrame(rows, ["image_id", "bytes"])
    out = df.select(
        "image_id",
        psnr_vs_reference_udf("image_id", "bytes").alias("psnr_db"),
        phash_udf("bytes").alias("ph"),
        decodable_udf("bytes").alias("ok"),
    ).collect()
    by_id = {r.image_id: r for r in out}
    for iid in ("img_a", "img_b", "img_c"):
        assert by_id[iid].psnr_db >= PSNR_THRESHOLD_DB
        assert by_id[iid].ok
        # UDF phash equals driver-side phash
        px = render_pixels(iid, 32, 32)
        assert by_id[iid].ph == phash64(decode_image(bytes(by_id_blob(df, iid))))
    corrupt_psnr = by_id["img_corrupt"].psnr_db
    assert corrupt_psnr is None or np.isnan(corrupt_psnr)
    assert not by_id["img_corrupt"].ok
    assert not by_id["img_null"].ok


def by_id_blob(df, iid):
    return bytes(df.filter(F.col("image_id") == iid).first().bytes)


def test_fixture_neardup_variants_have_present_base(tmp_path):
    """Every generated near-dup id 'img_X~dN' must have its base 'img_X'
    present in the corpus — a variant keyed on an index that was itself a
    variant would render pixels phash-close to nothing, silently
    undershooting the configured neardup_rate."""
    import pandas as pd

    from web_crawler_spark.sources.fixtures import generate_site

    d = str(tmp_path / "site")
    generate_site(d, n_pages=300, n_hosts=10, neardup_rate=0.5)
    ids = set(pd.read_parquet(f"{d}/urls.parquet")["image_id"])
    variants = [i for i in ids if "~d" in i]
    assert variants, "high neardup_rate must produce variants"
    for v in variants:
        base = v.partition("~d")[0]
        assert base in ids, f"{v} renders {base}, which is not in the corpus"


# sha256 over the little-endian int64 phashes of each golden corpus below,
# computed with the per-cell float phash64 this kernel replaced
GOLDEN_PERF = "d98888856e83f74d27451e418384661a9b5452f69762b311e3630614f0ba4553"
GOLDEN_FIXTURE = "2410aebb63f40d0360fdfa8c503d45f6e6f4a19fdf7c7db6492efe51bc69377f"


def _digest(hashes) -> str:
    return hashlib.sha256(np.asarray(hashes, dtype="<i8").tobytes()).hexdigest()


def test_phash_golden_perfbench_corpus():
    """4,000 image_dedup-style ids at 64 px, every 8th a ~d1 variant,
    hashed as one stack."""
    ids = [
        f"s1_{pk - 7:07d}~d1" if pk % 8 == 7 else f"s1_{pk:07d}" for pk in range(4000)
    ]
    stack = np.stack([render_pixels(i, 64, 64) for i in ids])
    assert _digest(phash64_batch(stack)) == GOLDEN_PERF


def test_phash_golden_fixture_shapes():
    """Decoded renders for every DIMS × DIMS × FMTS fixture shape, hashed
    through the shape-grouped path with the shapes interleaved."""
    from web_crawler_spark.sources.fixtures import DIMS, FMTS

    pixels = [
        decode_image(encode_image(render_pixels(f"img_{w}x{h}_{fmt}_{j}", w, h), fmt))
        for w in DIMS
        for h in DIMS
        for fmt in FMTS
        for j in range(20)
    ]
    order = np.random.RandomState(0).permutation(len(pixels))
    shuffled = phash_many((pixels[i] for i in order), len(pixels))
    hashes = np.empty(len(pixels), dtype=np.int64)
    hashes[order] = shuffled.to_numpy()
    assert _digest(hashes) == GOLDEN_FIXTURE
    assert phash64(pixels[0]) == hashes[0]


def test_phash_batch_invariance():
    """An image hashes the same alone, in a mixed-shape batch and at
    another batch position; None items stay NA."""
    target = render_pixels("inv_0", 40, 24)
    alone = phash64(target)
    others = [render_pixels(f"inv_{k}", 40, 24) for k in range(1, 6)]
    mixed = [render_pixels("m1", 7, 5), None, target, render_pixels("m2", 33, 80)]
    got = phash_many(mixed, len(mixed))
    assert got[2] == alone and got[1] is pd.NA
    assert got[0] == phash64(mixed[0]) and got[3] == phash64(mixed[3])
    for pos in (0, 3, 5):
        batch = others[:pos] + [target] + others[pos:]
        assert phash64_batch(np.stack(batch))[pos] == alone


def test_phash_tie_rule():
    """Equal blocks are not brighter than the mean: flat images and every
    1×1 image hash to 0."""
    for v in (0, 17, 255):
        assert phash64(np.full((48, 64, 3), v, dtype=np.uint8)) == 0
    ones = np.random.RandomState(3).randint(0, 256, size=(50, 1, 1, 3)).astype(np.uint8)
    assert not phash64_batch(ones).any()


def _exact_bits(sums, heights, widths):
    means = [
        [Fraction(int(sums[i, j]), int(heights[i]) * int(widths[j])) for j in range(8)]
        for i in range(8)
    ]
    mean = sum(sum(r, Fraction(0)) for r in means) / 64
    return np.array([[m > mean for m in r] for r in means])


def _loop_phash(px: np.ndarray) -> int:
    """Per-block slice loop with exact rationals: the kernel's reference."""
    gray = px.astype(np.int64).sum(axis=2)
    h, w = gray.shape
    if h < 8:
        gray = np.repeat(gray, -(-8 // h), axis=0)
    if w < 8:
        gray = np.repeat(gray, -(-8 // w), axis=1)
    ys = np.linspace(0, gray.shape[0], 9).astype(int)
    xs = np.linspace(0, gray.shape[1], 9).astype(int)
    sums = np.array([[gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].sum() for j in range(8)]
                     for i in range(8)])
    v = 0
    for bit in _exact_bits(sums, np.diff(ys), np.diff(xs)).flatten():
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_phash_matches_exact_loop_reference():
    """Random and rendered images in odd shapes, small ones upsampled."""
    rng = np.random.RandomState(11)
    for h, w in [(5, 7), (1, 9), (13, 200), (9, 8), (100, 3), (65, 33), (40, 24)]:
        stack = rng.randint(0, 256, size=(6, h, w, 3)).astype(np.uint8)
        stack[0] = render_pixels(f"ref_{h}x{w}", w, h)
        got = phash64_batch(stack)
        assert [int(v) for v in got] == [_loop_phash(px) for px in stack]


def test_phash_bits_int64_overflow_goes_exact():
    """Block sizes where 64·765·P exceeds int64 (WCSI dims reach 65535)
    still give the exact rational comparison, near-ties included."""
    heights = np.array([8191, 8192] * 4)
    widths = np.array([8192, 8191] * 4)
    p = 8191 * 8192 * 8191 * 8192
    assert 64 * 765 * p >= 2**63
    counts = np.outer(heights, widths)
    rng = np.random.RandomState(5)
    level = rng.randint(0, 766, size=(4, 8, 8))
    sums = level * counts
    # flat images with one block nudged a single unit: near-ties only exact
    # math resolves
    sums[1:] = 400 * counts
    sums[1, 0, 0] += 1
    sums[2, 3, 3] -= 1
    got = phash_bits(sums, heights, widths)
    for k in range(len(sums)):
        assert np.array_equal(got[k], _exact_bits(sums[k], heights, widths))
    assert got[1].sum() == 1 and got[1, 0, 0]
    assert got[2].sum() == 63 and not got[2, 3, 3]
    assert not got[3].any()
