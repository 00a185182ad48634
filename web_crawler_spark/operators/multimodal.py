"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Beyond-reference additions for the training-data pipeline. The reference
stores image bytes only as files on disk (crawler/image_downloader.py:126-132);
here media rides in ``binary`` columns with typed metadata, and decode /
feature-extract / resize / frame-sample run as Arrow-batched functions over
``mapInPandas`` — the pattern that holds at 100 TB (media bytes never leave
the executor, Arrow batches bound memory, the decode stage is a narrow map).

Decode reality in this sandbox: the deterministic WCSI codec
(functions/images.py) always decodes. Real containers (PNG/JPEG/WebP) are
decoded through PIL **when it is importable at worker start** (probed once
per process, VERDICT r2 #5); video frame extraction similarly probes for an
``ffmpeg`` binary. Without the library the real-container path stays an
explicit ``NotImplementedError`` stub that the callers convert to
error-as-data rows — the Spark-side plumbing (schemas, batch shapes, UDF
signatures, partition strategy) is identical either way and fully tested on
WCSI; PIL-present tests are ``skipif``-gated and also exercised against an
injected fake codec so the dispatch path is covered in this container.

Synthetic video layout: length-prefixed concatenation of WCSI frames
(4-byte little-endian frame length, then the frame blob), so frame
sampling is pure byte slicing — no codec in the hot loop.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import images as I
from .textdedup import (
    _band_explode, _check_bands, banded_pairs, hamming_clusters, keep_survivors,
)

# phash is a full signed 64-bit long: the band join runs over all 64 bits
PHASH_BITS = 64

FEATURES_SCHEMA = (
    "media_id string, decoded boolean, w int, h int, "
    "mean_r double, mean_g double, mean_b double, phash bigint"
)

_MAGIC_HEX = {
    "WCSI": "57435349",
    "png": "89504e47",
    "jpeg": "ffd8ff",
    "webp_riff": "52494646",
}


def sniff_format(blob) -> F.Column:
    """Container sniff from magic bytes — pure column expr, no decode.

    WebP needs BOTH checks: RIFF is a generic container (WAV/AVI share the
    magic), so bytes 9-12 must read 'WEBP' or audio blobs would be labeled
    images."""
    head = F.lower(F.hex(F.substring(blob, 1, 4)))
    riff_kind = F.lower(F.hex(F.substring(blob, 9, 4)))
    return (
        F.when(head.startswith(_MAGIC_HEX["WCSI"]), F.lit("wcsi"))
        .when(head.startswith(_MAGIC_HEX["png"]), F.lit("png"))
        .when(head.startswith(_MAGIC_HEX["jpeg"]), F.lit("jpeg"))
        .when(
            head.startswith(_MAGIC_HEX["webp_riff"])
            & (riff_kind == F.lit("57454250")),  # "WEBP"
            F.lit("webp"),
        )
        .otherwise(F.lit("unknown"))
    )


def media_meta(df: DataFrame, *, bytes_col: str = "bytes") -> DataFrame:
    """Cheap per-row metadata: size, sha256, sniffed container. No decode,
    stays entirely JVM-side (whole-stage codegen)."""
    b = F.col(bytes_col)
    return df.withColumns(
        {
            "n_bytes": F.coalesce(F.octet_length(b), F.lit(0)),
            "sha256": F.sha2(b, 256),
            "sniffed_fmt": sniff_format(b),
        }
    )


_UNSET = object()
_PIL_IMAGE = _UNSET
_FFMPEG = _UNSET
_FFPROBE = _UNSET


def _pil_image_module():
    """PIL.Image, probed once per process (worker start); None when absent.
    Tests can force a re-probe via ``_reset_codec_probes``."""
    global _PIL_IMAGE
    if _PIL_IMAGE is _UNSET:
        try:
            from PIL import Image as _img  # optional, not in this container

            _PIL_IMAGE = _img
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


def ffmpeg_path() -> str | None:
    """Path to an ffmpeg binary, probed once per process; None when absent.
    Real-container video decode dispatches through this the same way image
    decode dispatches through PIL."""
    global _FFMPEG
    if _FFMPEG is _UNSET:
        import shutil

        _FFMPEG = shutil.which("ffmpeg")
    return _FFMPEG


def ffprobe_path() -> str | None:
    """Path to an ffprobe binary, probed once per process; None when absent.
    Looked up next to ffmpeg first (the usual install layout), then on
    PATH — never derived by string surgery on the ffmpeg path (a directory
    named ``.../ffmpeg-6/...`` would mangle every component)."""
    global _FFPROBE
    if _FFPROBE is _UNSET:
        import shutil

        _FFPROBE = None
        ff = ffmpeg_path()
        if ff is not None:
            sibling = os.path.join(os.path.dirname(ff), "ffprobe")
            if os.path.isfile(sibling) and os.access(sibling, os.X_OK):
                _FFPROBE = sibling
        if _FFPROBE is None:
            _FFPROBE = shutil.which("ffprobe")
    return _FFPROBE


def _reset_codec_probes() -> None:
    global _PIL_IMAGE, _FFMPEG, _FFPROBE
    _PIL_IMAGE = _UNSET
    _FFMPEG = _UNSET
    _FFPROBE = _UNSET


def _decode_blob(blob: bytes) -> np.ndarray:
    """Decode one media blob to (h, w, 3) uint8 pixels.

    WCSI decodes deterministically with the in-repo codec. Real containers
    go through PIL when present (runtime-optional — probed per worker
    process); without it they are an explicit stub (the caller converts the
    error to an error-taxonomy row, never an exception escaping the UDF).
    """
    if blob[:4] == b"WCSI":
        return I.decode_image(blob)
    pil = _pil_image_module()
    if pil is not None:
        import io

        try:
            img = pil.open(io.BytesIO(blob)).convert("RGB")
            px = np.asarray(img, dtype=np.uint8)
        except Exception as exc:
            # PIL raises UnidentifiedImageError/OSError/etc. on corrupt
            # bytes; the callers' error-as-data handlers catch ValueError —
            # anything else would escape the UDF and fail the whole stage
            raise ValueError(f"undecodable image bytes: {exc}") from exc
        if px.ndim != 3 or px.shape[2] != 3:
            raise ValueError(f"unexpected decoded shape {px.shape}")
        return px
    raise NotImplementedError(
        "real-codec decode (PNG/JPEG/WebP) requires PIL; not available here"
    )


def extract_features(df: DataFrame, *, bytes_col: str = "bytes") -> DataFrame:
    """Decode + feature-extract via ``mapInPandas``: per-channel means (one
    numpy mean per image) and a perceptual hash (``phash_many``: one batched
    kernel call per shape). Narrow map — one Arrow batch in, one out;
    undecodable rows yield decoded=false rows (error-as-data, E1
    discipline)."""
    cols = ["media_id", bytes_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            w = pd.array([None] * n, dtype="Int32")
            h = pd.array([None] * n, dtype="Int32")
            means = np.zeros((n, 3))
            decoded = np.zeros(n, dtype=bool)

            def pixels():
                for i, blob in enumerate(pdf[bytes_col]):
                    px = None
                    if blob is not None:
                        try:
                            px = _decode_blob(bytes(blob))
                        except (ValueError, zlib.error, NotImplementedError):
                            pass
                    if px is not None:
                        decoded[i] = True
                        h[i], w[i] = px.shape[:2]
                        means[i] = px.astype(np.float64).mean(axis=(0, 1))
                    yield px

            # explicit nullable dtypes: float64 would silently zero the low
            # ~11 bits of 64-bit phashes before Arrow casts back to int64
            phash = I.phash_many(pixels(), n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "decoded": decoded,
                    "w": w,
                    "h": h,
                    **{
                        f"mean_{c}": pd.arrays.FloatingArray(means[:, k], ~decoded)
                        for k, c in enumerate("rgb")
                    },
                    "phash": phash,
                }
            )

    return df.select(*cols).mapInPandas(run, FEATURES_SCHEMA)


def nn_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, 3) array — the pure kernel
    shared by ``resize_images`` and its oracle twin, so the engine and the
    expected-output generator can only diverge in dataflow, not math.
    Dependency-free and deterministic; a real pipeline swaps this one
    function for a library resampler."""
    h, w = px.shape[:2]
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[yi][:, xi]


def resize_images(
    df: DataFrame, *, out_w: int, out_h: int, bytes_col: str = "bytes"
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode (WCSI png profile).

    Output: (media_id, bytes) with resized encodings; undecodable → NULL.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_blobs = [], []
            for mid, blob in zip(pdf["media_id"], pdf[bytes_col]):
                out_ids.append(mid)
                if blob is None:
                    out_blobs.append(None)
                    continue
                try:
                    px = _decode_blob(bytes(blob))
                except (ValueError, zlib.error, NotImplementedError):
                    out_blobs.append(None)
                    continue
                out_blobs.append(I.encode_image(nn_resize(px, out_w, out_h), "png"))
            yield pd.DataFrame({"media_id": out_ids, "bytes": out_blobs})

    return df.select("media_id", bytes_col).mapInPandas(run, "media_id string, bytes binary")


# ---------------------------------------------------------------------------
# Synthetic video: length-prefixed WCSI frame stream
# ---------------------------------------------------------------------------

def pack_frames(frames: list[bytes]) -> bytes:
    """Concatenate frames with 4-byte little-endian length prefixes."""
    return b"".join(len(f).to_bytes(4, "little") + f for f in frames)


def unpack_frames(blob: bytes) -> list[bytes]:
    out, i = [], 0
    while i + 4 <= len(blob):
        n = int.from_bytes(blob[i : i + 4], "little")
        out.append(blob[i + 4 : i + 4 + n])
        i += 4 + n
    return out


def decode_video_frames(blob: bytes, every: int = 1) -> list[np.ndarray]:
    """Pixel frames of one video blob (driver/worker-side helper).

    Packed-WCSI streams decode in-process (byte slicing + WCSI codec). Real
    containers (mp4/webm/…) dispatch to an ``ffmpeg`` binary when the
    worker has one (probed once per process, like PIL for images):
    rawvideo rgb24 over a pipe, reshaped per the probe's frame geometry.
    Without ffmpeg the real-container path is an explicit stub.
    """
    if not blob:
        # pack_frames([]) == b'': a zero-frame packed stream, not a real
        # container — routing it to ffmpeg would raise where the correct
        # answer is simply no frames
        return []
    if len(blob) >= 8 and blob[4:8] == b"WCSI":
        return [
            I.decode_image(fr)
            for j, fr in enumerate(unpack_frames(blob))
            if j % every == 0
        ]
    ff, fp = ffmpeg_path(), ffprobe_path()
    if ff is None or fp is None:
        raise NotImplementedError(
            "real-container video decode requires ffmpeg+ffprobe; "
            "not available here"
        )
    import json as _json
    import subprocess

    probe = subprocess.run(
        [
            fp, "-v", "error", "-select_streams",
            "v:0", "-show_entries", "stream=width,height", "-of", "json", "-",
        ],
        input=blob, capture_output=True, check=True,
    )
    geom = _json.loads(probe.stdout)["streams"][0]
    w, h = int(geom["width"]), int(geom["height"])
    out = subprocess.run(
        [
            ff, "-v", "error", "-i", "pipe:0",
            "-vf", f"select=not(mod(n\\,{every}))", "-vsync", "vfr",
            "-f", "rawvideo", "-pix_fmt", "rgb24", "pipe:1",
        ],
        input=blob, capture_output=True, check=True,
    ).stdout
    frame_sz = w * h * 3
    return [
        np.frombuffer(out[i : i + frame_sz], dtype=np.uint8).reshape(h, w, 3)
        for i in range(0, len(out) - frame_sz + 1, frame_sz)
    ]


def sample_frames(
    df: DataFrame, *, every: int = 2, bytes_col: str = "bytes"
) -> DataFrame:
    """Explode every ``every``-th frame of a packed video column.

    Output (media_id, frame_idx, frame_bytes). Byte slicing only — the
    decode cost is deferred to whichever downstream stage needs pixels.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf[bytes_col]):
                if blob is None:
                    continue
                for j, fr in enumerate(unpack_frames(bytes(blob))):
                    if j % every == 0:
                        ids.append(mid)
                        idxs.append(j)
                        blobs.append(fr)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_bytes": blobs}
            )

    return df.select("media_id", bytes_col).mapInPandas(
        run, "media_id string, frame_idx int, frame_bytes binary"
    )


def phash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Image near-duplicate pairs by 64-bit perceptual hash:
    hamming(phash_a, phash_b) ≤ ``max_hamming`` over decoded pixel content
    — catches re-encodes, quantization noise, and the fixture's ``~dN``
    noise variants, which byte-level exact dedup (D1/D2) cannot. It runs
    the same banded join as ``textdedup.simhash_pairs``
    (``textdedup.banded_pairs``, here over all 64 bits of the signed
    phash; bands = max_hamming+1 → exact recall, no all-pairs stage).
    Undecodable/NULL blobs are dropped (error-as-data upstream, E1).

    Output (media_a, media_b, hamming), media_a < media_b.
    """
    _check_bands(PHASH_BITS, max_hamming, bands)
    ph = phash_table(df, id_col=id_col, bytes_col=bytes_col).filter(
        F.col("phash").isNotNull()
    )
    return banded_pairs(
        ph, "media_id", "phash", "media_a", "media_b",
        bits=PHASH_BITS, max_hamming=max_hamming, bands=bands,
    )


def phash_table(
    df: DataFrame, *, id_col: str = "media_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(media_id, phash) for a blob column; phash NULL where the blob is
    NULL/undecodable (error-as-data — NULLness IS the decode gate).

    Materialized with ``localCheckpoint(eager=True)``: the hash frame feeds
    both sides of the near-dup self-join (and, in ``phash_prune``, the
    final survivor join too), and join branches re-execute their lineage
    independently (a BroadcastExchange is never a ReusedExchange of the
    probe side) — so without a cut here every image would be decoded +
    hashed once per consumer. The checkpointed frame is 16 bytes/row
    regardless of blob size: the cheapest possible materialization point
    at any corpus scale."""
    return (
        df.select(F.col(id_col).alias("media_id"), F.col(bytes_col).alias("b"))
        .withColumn("phash", I.phash_udf(F.col("b")))
        .select("media_id", "phash")
        .localCheckpoint(eager=True)
    )


def banded_matches(
    probe: DataFrame, index: DataFrame, *, max_hamming: int, bands: int
) -> DataFrame:
    """Probe-vs-index near-dup membership: DISTINCT probe ``pair_id``s whose
    phash is within ``max_hamming`` of ANY index row — the incremental-LSH
    pattern (a growing admitted set probed by each new micro-batch). Same
    pigeonhole guarantee as the self-join (exact recall at hamming ≤
    bands−1), same shape at scale: band-explode both sides, one equi-join
    on (band_idx, band_val), no all-pairs stage. Inputs: (pair_id, phash)
    with non-null phash."""
    _check_bands(PHASH_BITS, max_hamming, bands)
    p = _band_explode(probe, "pair_id", "phash", bits=PHASH_BITS, bands=bands)
    x = _band_explode(index, "pair_id", "phash", bits=PHASH_BITS, bands=bands)
    xor = F.col("p.phash").bitwiseXOR(F.col("x.phash"))
    return (
        p.alias("p").join(x.alias("x"), ["band_idx", "band_val"])
        .filter(F.bit_count(xor) <= F.lit(max_hamming))
        .select("p.pair_id")
        .distinct()
    )


def phash_neardup_clusters(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Cluster assignment over image near-dup pairs: connected components
    with the min-id representative (lexicographic min for string media
    ids) — the shared cluster step (``textdedup.hamming_clusters``) over
    the ``phash_neardup_pairs`` join, so the image suite emits the same
    prunable (id, cluster_id) shape as the text and embedding suites and
    feeds the same corpus-prune step. Output (media_id, cluster_id) for
    every image with ≥1 near-duplicate; singletons never enter the frame
    (join back LEFT to keep them)."""
    _check_bands(PHASH_BITS, max_hamming, bands)
    ph = phash_table(df, id_col=id_col, bytes_col=bytes_col).filter(
        F.col("phash").isNotNull()
    )
    return hamming_clusters(
        ph, "media_id", "phash",
        bits=PHASH_BITS, max_hamming=max_hamming, bands=bands,
    )


def phash_prune(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Image corpus curation: decode gate + near-dup prune in one pass —
    the image twin of ``textdedup.dedup_prune``. Drops undecodable blobs
    (phash NULL = failed decode, error-as-data) and every near-duplicate
    that is not its cluster's lexicographic-min representative. Output one
    row per SURVIVING image: (media_id, kept_as ∈ {representative,
    unique}) — apply as a left-semi join against the corpus to materialize
    the curated set.

    Linear dataflow at any scale: one decode+hash pass (checkpointed,
    shared by the pair join and the survivor join), the banded equi-join,
    O(log diameter) component rounds, then two anti/left joins on
    media_id (``textdedup.keep_survivors``)."""
    _check_bands(PHASH_BITS, max_hamming, bands)
    ph = phash_table(df, id_col=id_col, bytes_col=bytes_col)
    valid = ph.filter(F.col("phash").isNotNull())
    clusters = hamming_clusters(
        valid, "media_id", "phash",
        bits=PHASH_BITS, max_hamming=max_hamming, bands=bands,
    )
    return keep_survivors(valid.select("media_id"), clusters, "media_id")


def pair_metrics(
    df: DataFrame,
    *,
    id_col: str = "pair_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
) -> DataFrame:
    """The shared measurement pass for pair curation (batch and streaming):
    ONE image decode (``profile_udf``: phash + dims per blob, Arrow batches)
    plus the caption metrics as pure column expressions, checkpointed so no
    downstream consumer re-decodes. Output per pair:
    (pair_id, phash, w, h, _has_cap, lang, score, ws_tokens)."""
    from ..functions import text as T
    from ..functions.images import profile_udf

    return (
        df.select(
            F.col(id_col).alias("pair_id"),
            F.col(caption_col).alias("_cap"),
            profile_udf(F.col(bytes_col)).alias("_p"),
        )
        .select(
            "pair_id",
            F.col("_p.phash").alias("phash"),
            F.col("_p.w").alias("w"),
            F.col("_p.h").alias("h"),
            F.col("_cap").isNotNull().alias("_has_cap"),
            # guard the caption metrics behind the NULL check explicitly:
            # unpaired rows must carry NULL (unmeasurable), not the metric
            # expressions' value for empty text ('und' / 0)
            F.when(F.col("_cap").isNotNull(), T.lang_id(F.col("_cap"))).alias("lang"),
            F.when(F.col("_cap").isNotNull(), T.quality_score(F.col("_cap"))).alias(
                "score"
            ),
            F.when(
                F.col("_cap").isNotNull(), T.ws_token_count(F.col("_cap")).cast("long")
            ).alias("ws_tokens"),
        )
        .localCheckpoint(eager=True)
    )


def pair_gate_expr(
    *,
    lang: str = "en",
    min_dim: int = 28,
    min_quality: float = 0.5,
    min_tokens: int = 3,
):
    """First-fail gate over a ``pair_metrics`` frame: NULL = survivor, else
    the drop reason (fixed evaluation order — the verdict taxonomy)."""
    return (
        F.when(~F.col("_has_cap"), F.lit("missing_caption"))
        .when(F.col("phash").isNull(), F.lit("undecodable"))
        .when(F.least("w", "h") < F.lit(min_dim), F.lit("too_small"))
        .when(F.col("lang") != F.lit(lang), F.lit("lang"))
        .when(F.col("score") < F.lit(min_quality), F.lit("low_quality"))
        .when(F.col("ws_tokens") < F.lit(min_tokens), F.lit("caption_short"))
    )


def curate_pairs(
    df: DataFrame,
    *,
    id_col: str = "pair_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    lang: str = "en",
    min_dim: int = 28,
    min_quality: float = 0.5,
    min_tokens: int = 3,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Joint image+caption training-pair curation (the LAION-style pipeline
    over the north rule's pair table): every gate a multimodal corpus needs
    before training, in one declarative plan with error-as-data verdicts —
    a 100 TB curation job must account for every dropped row, so gated
    pairs are returned WITH their drop reason, never silently filtered.

    One decode pass (``profile_udf``: phash + dimensions per blob, Arrow
    batches) and one caption pass (pure column expressions) produce a
    narrow per-pair metrics frame, ``localCheckpoint``-ed so the near-dup
    self-join and the final verdict join never re-decode. Gates apply
    first-fail in a fixed order:

      1. ``missing_caption`` — caption NULL (unpaired image)
      2. ``undecodable``     — blob NULL/corrupt (decode gate, E1)
      3. ``too_small``       — min(w, h) < ``min_dim`` (resolution gate)
      4. ``lang``            — caption language ≠ ``lang``
      5. ``low_quality``     — caption quality score < ``min_quality``
      6. ``caption_short``   — whitespace tokens < ``min_tokens``
      7. near-dup prune WITHIN the survivors: phash pigeonhole band join
         (exact recall at hamming ≤ bands−1, equi-joins only) → connected
         components → ``near_dup`` for non-representatives;
         survivors keep ``kept_representative`` / ``kept_unique``.

    Output: one row per input pair —
    (pair_id, w, h, lang, score, ws_tokens, verdict). Measured values stay
    populated on gated rows (diagnostics), NULL only where unmeasurable
    (no blob → no w/h/phash; no caption → no lang/score/tokens).

    Scale shape: linear decode map + banded equi-joins + O(log diameter)
    component rounds + two hash joins on pair_id — no all-pairs stage, no
    driver-side loop; the checkpointed metrics frame is a few dozen bytes
    per row regardless of blob size.
    """
    _check_bands(PHASH_BITS, max_hamming, bands)
    base = pair_metrics(
        df, id_col=id_col, bytes_col=bytes_col, caption_col=caption_col
    )
    flagged = base.withColumn(
        "_fail",
        pair_gate_expr(
            lang=lang,
            min_dim=min_dim,
            min_quality=min_quality,
            min_tokens=min_tokens,
        ),
    )
    clusters = hamming_clusters(
        flagged.filter(F.col("_fail").isNull()), "pair_id", "phash",
        bits=PHASH_BITS, max_hamming=max_hamming, bands=bands,
    )
    return flagged.join(clusters, "pair_id", "left").select(
        "pair_id",
        "w",
        "h",
        "lang",
        "score",
        "ws_tokens",
        F.coalesce(
            F.col("_fail"),
            F.when(F.col("cluster_id").isNull(), F.lit("kept_unique"))
            .when(F.col("cluster_id") == F.col("pair_id"), F.lit("kept_representative"))
            .otherwise(F.lit("near_dup")),
        ).alias("verdict"),
    )
