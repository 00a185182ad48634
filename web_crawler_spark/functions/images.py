"""Image column functions: deterministic codec, PSNR validation, perceptual hash.

The reference streams image bytes to disk and never inspects pixels
(reference: crawler/image_downloader.py:101-138). The north rule upgrades this
to per-row validation of fetched bytes against the reference row:
decoded-pixel PSNR ≥ 40 dB for lossy formats / exact for lossless, plus exact
caption equality and phash-based near-duplicate suppression.

Container images libs (PIL/cv2) are NOT in this sandbox, so the codec is an
in-repo deterministic format (magic ``WCSI``):

    magic(4) | version(1) | fmt_code(1) | w(uint16 LE) | h(uint16 LE) | zlib(payload)

- ``png``  (lossless): payload = raw RGB bytes.
- ``jpeg`` (lossy):    payload = RGB quantized to step 4  → PSNR ≈ 47 dB.
- ``webp`` (lossy):    payload = RGB quantized to step 2  → PSNR ≈ 53 dB.

When PIL is importable (real clusters), ``HAVE_PIL`` flips and the real
encoders are used behind the same encode/decode API; all Spark-side plumbing
(schemas, UDF signatures, batch shapes) is identical either way.

All Spark entry points are vectorized pandas UDFs over Arrow batches. The
perceptual hash has no per-row Python: ``phash_many`` groups a batch's
decoded arrays by shape and hashes each group in one ``phash64_batch`` numpy
call. What stays per row is decode (header parse + ``zlib``, or PIL) and
the PSNR check against each row's reference render.
"""

from __future__ import annotations

import math
import zlib
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

try:  # real image libs when available (not in this sandbox)
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

_MAGIC = b"WCSI"
_VERSION = 1
_FMT_CODES = {"png": 0, "jpeg": 1, "webp": 2}
# quantization step per lossy format (step q → PSNR ≈ 20*log10(255*sqrt(12)/q))
_QUANT = {"png": 1, "jpeg": 4, "webp": 2}

PSNR_THRESHOLD_DB = 40.0
# PSNR value reported for bit-exact matches (lossless); keeps the column a
# plain finite DOUBLE for parquet/oracle comparison instead of +Inf.
PSNR_EXACT = 99.0


# ---------------------------------------------------------------------------
# Deterministic reference renderer — the "ground truth pixels" for image_id.
# ---------------------------------------------------------------------------

def render_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 pixel array keyed on image_id.

    A smooth 2-D gradient + sinusoid pattern whose phases derive from a
    64-bit hash of the id — unique per id, deterministic across processes,
    vectorized (no Python loops per pixel).

    Near-duplicate convention: an id of the form ``{base}~dN`` renders the
    *base* id's pixels plus ±2 deterministic noise keyed by N — a distinct
    image_id whose content is a near-dup of the base (phash-close), while the
    per-row PSNR invariant (decoded bytes vs render of own id) still holds
    exactly. This mirrors the ~2% near-dup rows FIXTURES.md §1 requires.
    """
    from .hashing import xxh64_str

    base_id, variant = image_id, 0
    if "~d" in image_id:
        base_id, _, v = image_id.rpartition("~d")
        if v.isdigit():
            variant = int(v)
        else:
            base_id = image_id
    seed = xxh64_str(base_id) & 0xFFFFFFFFFFFFFFFF
    # Multi-octave sinusoid mix with per-id frequencies/phases drawn from a
    # seeded RandomState (legacy numpy generator — bit-stable across numpy
    # versions). The mid-frequency octaves (up to ~8 cycles across the
    # image) are what give the 8×8 block-mean phash realistic entropy: a
    # purely low-frequency gradient family clumps in phash space (measured:
    # 40k distinct ids produced 63k spurious hamming≤2 pairs — 85% of the
    # corpus in near-dup "clusters" that no real photo corpus shows), which
    # turns every downstream near-dup graph pathological. Real thumbnails
    # have energy at block scale; so does this.
    rng = np.random.RandomState(seed % (2**31 - 1))
    ys = np.linspace(0.0, 1.0, h, dtype=np.float64)[:, None]
    xs = np.linspace(0.0, 1.0, w, dtype=np.float64)[None, :]
    px_chans = []
    for _chan in range(3):
        acc = np.zeros((h, w), dtype=np.float64)
        # three octaves: ~1-2, ~2-5, ~4-9 cycles across the image
        for lo, span, amp in ((0.5, 1.5, 0.5), (2.0, 3.0, 0.3), (4.0, 5.0, 0.2)):
            fx = lo + span * rng.random_sample()
            fy = lo + span * rng.random_sample()
            ph = rng.random_sample()
            acc += amp * np.sin(2 * np.pi * (xs * fx + ys * fy + ph))
        px_chans.append(0.5 + 0.5 * acc)
    px = np.stack(px_chans, axis=-1)
    out = np.clip(px * 255.0, 0, 255).astype(np.uint8)
    if variant:
        rng = np.random.RandomState((seed ^ variant) & 0x7FFFFFFF)
        noise = rng.randint(-2, 3, size=out.shape)
        out = np.clip(out.astype(np.int16) + noise, 0, 255).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# Codec
# ---------------------------------------------------------------------------

def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode (h, w, 3) uint8 pixels. Lossy formats quantize before zlib."""
    if HAVE_PIL and fmt in ("png", "jpeg", "webp"):
        # Real encoder path on clusters with PIL; sandbox always uses WCSI.
        import io

        buf = io.BytesIO()
        Image.fromarray(pixels).save(buf, format=fmt.upper())
        return buf.getvalue()
    h, w = pixels.shape[:2]
    q = _QUANT[fmt]
    data = pixels
    if q > 1:
        # mid-rise quantization: error uniform in [-q/2, q/2)
        data = (pixels.astype(np.int32) // q * q + q // 2).clip(0, 255).astype(np.uint8)
    header = (
        _MAGIC
        + bytes([_VERSION, _FMT_CODES[fmt]])
        + int(w).to_bytes(2, "little")
        + int(h).to_bytes(2, "little")
    )
    return header + zlib.compress(data.tobytes(), level=1)


def decode_image(blob: bytes) -> np.ndarray:
    """Decode to (h, w, 3) uint8. Raises ValueError on corrupt input —
    callers convert that to an error-taxonomy row, never an exception."""
    if blob is None or len(blob) < 10 or blob[:4] != _MAGIC:
        if HAVE_PIL and blob:
            import io

            try:
                return np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"))
            except Exception as exc:
                # PIL raises UnidentifiedImageError/OSError/DecompressionBomb
                # etc. on hostile bytes; the documented contract is ValueError
                # only, so the UDFs' error-as-data handlers keep working on
                # PIL-enabled clusters instead of failing the stage
                raise ValueError(f"undecodable image bytes: {exc}") from exc
        raise ValueError("not a WCSI image")
    w = int.from_bytes(blob[6:8], "little")
    h = int.from_bytes(blob[8:10], "little")
    raw = zlib.decompress(blob[10:])
    if len(raw) != w * h * 3:
        raise ValueError("corrupt WCSI payload")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR in dB between two uint8 arrays; PSNR_EXACT for identical."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return PSNR_EXACT
    return min(PSNR_EXACT, 20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash of one (h, w, 3) uint8 image: 8×8 block-mean
    grayscale, each bit set where its block is brighter than the mean block.

    Blocks follow the ``linspace(0, h, 9)`` × ``linspace(0, w, 9)`` grid
    (images under 8 px on a side are first upsampled by repetition). The
    comparison is exact integer arithmetic: with S a block's channel sum, c
    its pixel count and P the product of the distinct block heights times
    the product of the distinct block widths, the bit is
    ``64·S_ij·(P/c_ij) > Σ_k S_k·(P/c_k)``. A tie is 0, so a flat image (any
    1×1 image included) hashes to 0. Robust to the codec's quantization
    noise; flips bits under real content change. Signed int64 (Spark
    LongType convention), the first block in the most significant bit."""
    return int(phash64_batch(pixels[None])[0])


def _blocks(n: int) -> tuple[np.ndarray, np.ndarray]:
    """Start offsets and sizes of the 8 hash blocks along an axis of n ≥ 8."""
    edges = np.linspace(0, n, 9).astype(int)
    return edges[:-1], np.diff(edges)


def phash_bits(sums: np.ndarray, heights, widths) -> np.ndarray:
    """The exact bit rule of ``phash64`` over (n, 8, 8) integer block sums
    with block heights/widths (8 each) → (n, 8, 8) bool. Runs in int64 when
    ``64·765·P`` fits and in Python ints otherwise (WCSI dims reach 65535)."""
    hs = [int(b) for b in heights]
    ws = [int(b) for b in widths]
    p_h, p_w = math.prod(set(hs)), math.prod(set(ws))
    weight = np.outer(
        np.array([p_h // b for b in hs], dtype=object),
        np.array([p_w // b for b in ws], dtype=object),
    )
    if 64 * 765 * p_h * p_w < 2**63:
        weighted = sums.astype(np.int64) * weight.astype(np.int64)
    else:
        weighted = sums.astype(object) * weight
    total = weighted.sum(axis=(1, 2))
    return 64 * weighted > total[:, None, None]


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """``phash64`` of every image in an (n, h, w, 3) uint8 stack → int64[n]:
    channel sums, block sums by ``np.add.reduceat``, then ``phash_bits``."""
    # channel sums, ≤ 765 per pixel (three adds: a reduction over the
    # 3-wide inner axis runs ~10x slower)
    gray = stack[..., 0].astype(np.uint16) + stack[..., 1] + stack[..., 2]
    n, h, w = gray.shape
    if h < 8:
        gray = np.repeat(gray, -(-8 // h), axis=1)
    if w < 8:
        gray = np.repeat(gray, -(-8 // w), axis=2)
    ys, heights = _blocks(gray.shape[1])
    xs, widths = _blocks(gray.shape[2])
    sums = np.add.reduceat(
        np.add.reduceat(gray, ys, axis=1, dtype=np.int64), xs, axis=2
    )
    bits = phash_bits(sums, heights, widths).reshape(n, 64)
    return np.packbits(bits, axis=1).view(">i8").astype(np.int64).reshape(n)


# Decoded pixels held before the pending shape groups are hashed: bounds a
# batch's memory whatever its row count and image sizes.
_STACK_BYTES = 64 << 20


def phash_many(pixels: Iterable[np.ndarray | None], n: int) -> pd.arrays.IntegerArray:
    """``phash64`` of n decoded images (NA where an item is None) as a
    nullable Int64 array. Same-shape arrays are stacked and hashed in one
    ``phash64_batch`` call; the pending groups are hashed whenever they hold
    ``_STACK_BYTES``, so the items may come from a lazy decode loop."""
    out = np.zeros(n, dtype=np.int64)
    present = np.zeros(n, dtype=bool)
    groups: dict[tuple, tuple[list[int], list[np.ndarray]]] = {}

    def flush():
        for idx, arrs in groups.values():
            out[idx] = phash64_batch(np.stack(arrs))
        groups.clear()

    held = 0
    for i, px in enumerate(pixels):
        if px is None:
            continue
        present[i] = True
        idx, arrs = groups.setdefault(px.shape, ([], []))
        idx.append(i)
        arrs.append(px)
        held += px.nbytes
        if held >= _STACK_BYTES:
            flush()
            held = 0
    flush()
    return pd.arrays.IntegerArray(out, ~present)


def _try_decode(blob) -> np.ndarray | None:
    """``decode_image`` for a UDF cell: None for a NULL or corrupt blob."""
    if blob is None:
        return None
    try:
        return decode_image(bytes(blob))
    except (ValueError, zlib.error):
        return None


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# ---------------------------------------------------------------------------
# Vectorized Spark UDFs (Arrow batches)
# ---------------------------------------------------------------------------

@pandas_udf(DoubleType())
def psnr_vs_reference_udf(image_id: pd.Series, blob: pd.Series) -> pd.Series:
    """Decode fetched bytes and PSNR them against the deterministic reference
    render for that image_id (the north rule's per-row invariant). NULL/corrupt
    bytes → NaN (mapped to a content_error row downstream, not an exception)."""
    out = np.full(len(blob), np.nan)
    for i, (iid, b) in enumerate(zip(image_id, blob)):
        px = None if iid is None else _try_decode(b)
        if px is not None:
            out[i] = psnr(px, render_pixels(iid, px.shape[1], px.shape[0]))
    return pd.Series(out)


@pandas_udf(LongType())
def phash_udf(blob: pd.Series) -> pd.Series:
    """Recompute the 64-bit perceptual hash from stored bytes; NULL where the
    blob is NULL/corrupt."""
    return pd.Series(phash_many((_try_decode(b) for b in blob), len(blob)))


@pandas_udf(
    StructType(
        [
            StructField("phash", LongType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
        ]
    )
)
def profile_udf(blob: pd.Series) -> pd.DataFrame:
    """One decode per blob → (phash, w, h); all three NULL where the blob is
    NULL/corrupt (error-as-data — NULLness IS the decode gate). Joint
    gating pipelines (curate_pairs) need both the perceptual hash and the
    dimensions, and decoding is the dominant cost: this keeps it one pass."""
    w = pd.array([None] * len(blob), dtype="Int32")
    h = pd.array([None] * len(blob), dtype="Int32")

    def decoded():
        for i, b in enumerate(blob):
            px = _try_decode(b)
            if px is not None:
                h[i], w[i] = px.shape[:2]
            yield px

    ph = phash_many(decoded(), len(blob))
    return pd.DataFrame({"phash": ph, "w": w, "h": h})


@pandas_udf(BooleanType())
def decodable_udf(blob: pd.Series) -> pd.Series:
    return pd.Series([_try_decode(b) is not None for b in blob], dtype=bool)
