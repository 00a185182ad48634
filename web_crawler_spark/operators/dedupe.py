"""Deduplication operators (SURVEY §2.5) — the heart of the graft.

- first_wins:      D1/D2 — the reference's insertion-order `seen_urls` set
                   (crawler/link_extractor.py:94,109-113) as a window dedupe.
- anti_join_seen:  D4/J3 — frontier ∖ seen on url_hash (exactness layer; the
                   Bloom tier in bloom.py/membership.py is a prefilter
                   only and never affects correctness).
- collision_suffix: D3 — per-base filename counters
                   (image_downloader.py:183-192).

Scale notes: first_wins shuffles once on the dedupe key; anti_join_seen is a
shuffle-hash/SMJ anti join that AQE will skew-split. Both partition cleanly
by key at 10^10 rows. At that scale the Bloom prefilter shrinks the anti-join
probe side by ~(1 - fp_rate), which is what makes the exact join affordable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_wins(
    df: DataFrame, key: str | list[str], order_by: list[Column]
) -> DataFrame:
    """Keep exactly one row per key — the first under ``order_by``.

    Matches the reference's first-occurrence-wins semantics when ordered by
    document position (D1), and the frontier's best-discovery semantics when
    ordered by (priority DESC, discovered_round ASC).
    """
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_seen(frontier: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact URL-seen membership: frontier rows whose url_hash was never
    scheduled. LEFT ANTI join — Catalyst/AQE pick the physical strategy."""
    return frontier.join(seen.select("url_hash"), "url_hash", "left_anti")


def collision_suffix(
    df: DataFrame, base_col: str, order_col: str, out_col: str = "final_name"
) -> DataFrame:
    """D3 (image_downloader.py:183-192): first occurrence keeps ``base``,
    later ones get ``stem_N.ext`` with N = occurrence - 1.

    Known divergence from the reference, by design: the reference re-probes
    a global ``used_filenames`` set, so a generated ``a_1.jpg`` that clashes
    with a RAW base named ``a_1.jpg`` advances to ``a_2.jpg``. That loop is
    inherently sequential; the window form is deterministic and distributed
    but can emit such a cross-base clash. Callers that need global
    uniqueness should suffix with a content hash instead.

    Dotfile parity: ``os.path.splitext('.hidden')`` treats the whole name as
    the stem (ext ''), so the regexes require ≥1 char before the dot.
    """
    w = Window.partitionBy(base_col).orderBy(order_col)
    rn = F.row_number().over(w)
    base = F.col(base_col)
    stem = F.regexp_replace(base, r"(?<=.)\.[^.]*$", "")
    ext = F.regexp_extract(base, r"(?<=.)(\.[^.]*)$", 1)
    return df.withColumn(
        out_col,
        F.when(rn == 1, base).otherwise(
            F.concat(stem, F.lit("_"), (rn - 1).cast("string"), ext)
        ),
    )
