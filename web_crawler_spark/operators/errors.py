"""Error handling as dataflow (SURVEY §2.10, E1–E4).

The reference maps exceptions to a failure-info taxonomy
(utils/error_handler.py:87-296): error_type ∈ {network_error, http_error,
content_error, validation_error, parsing_error, permission_error,
unknown_error}, retry_possible = (HTTP code ≥ 500 or network error)
(error_handler.py:144), ≤3 attempts (fetcher.py:73-93).

Here failures are **status columns, never exceptions**: the fetch stage emits
(status, error_type, error_code, retry_possible) per row; one bad row never
aborts a batch (E3 — inherent to the DataFrame model). Suggestions are a
literal broadcast map keyed by error_code (get_http_error_suggestions,
error_handler.py:22-84).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.images import PSNR_THRESHOLD_DB
from .faults import is_transient_fault

# reference: utils/error_handler.py:22-84 (http suggestions), condensed
SUGGESTIONS = {
    "404": ["Check the URL for typos", "The page may have been removed"],
    "403": ["The site may block crawlers", "Try providing auth headers"],
    "500": ["Server error — retry later"],
    "TIMEOUT": ["Increase the timeout", "Retry later"],
    "CONNECTION_REFUSED": ["Verify the host is reachable"],
    "INVALID_URL": ["URL must start with http:// or https://"],
    "ROBOTS_DISALLOWED": ["Path is disallowed by the host's robots policy"],
    "DECODE_FAILED": ["Image payload is corrupt or truncated"],
    "PSNR_BELOW_THRESHOLD": ["Fetched pixels diverge from the reference row"],
    "CAPTION_MISMATCH": ["Caption differs from the reference row"],
    "EMPTY_CONTENT": ["The page returned no content"],
}


def suggestions_map() -> Column:
    """The suggestions table as a literal MapType column (broadcast by value)."""
    return F.create_map(
        *[
            x
            for code, tips in SUGGESTIONS.items()
            for x in (F.lit(code), F.array(*[F.lit(t) for t in tips]))
        ]
    )


def classify_fetch(df: DataFrame) -> DataFrame:
    """Derive (status, error_type, error_code, retry_possible) for a joined
    fetch batch. Expects columns: url_hash, attempts, image_id (null = no page
    row → 404), bytes, psnr_db (NaN/null = undecodable), caption_ok.

    Precedence mirrors the reference's exception ordering
    (error_handler.py:87-296): network before http before content.
    """
    transient = is_transient_fault(F.col("url_hash"), F.col("attempts"))
    no_page = F.col("image_id").isNull()
    empty = F.col("bytes").isNull()
    undecodable = F.col("psnr_db").isNull() | F.isnan(F.col("psnr_db"))
    low_psnr = F.col("psnr_db") < F.lit(PSNR_THRESHOLD_DB)
    bad_caption = ~F.coalesce(F.col("caption_ok"), F.lit(False))

    error_type = (
        F.when(transient, F.lit("network_error"))
        .when(no_page, F.lit("http_error"))
        .when(empty, F.lit("content_error"))
        .when(undecodable, F.lit("content_error"))
        .when(low_psnr, F.lit("content_error"))
        .when(bad_caption, F.lit("validation_error"))
        .otherwise(F.lit(None).cast("string"))
    )
    error_code = (
        F.when(transient, F.lit("TIMEOUT"))
        .when(no_page, F.lit("404"))
        .when(empty, F.lit("EMPTY_CONTENT"))
        .when(undecodable, F.lit("DECODE_FAILED"))
        .when(low_psnr, F.lit("PSNR_BELOW_THRESHOLD"))
        .when(bad_caption, F.lit("CAPTION_MISMATCH"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        df.withColumn("error_type", error_type)
        .withColumn("error_code", error_code)
        .withColumn(
            "status",
            F.when(error_type.isNull(), F.lit("success")).otherwise(F.lit("failed")),
        )
        .withColumn(
            # retry_possible = network error (timeouts) or HTTP ≥ 500
            # (error_handler.py:144); 404s and content errors are permanent.
            "retry_possible",
            F.when(F.col("status") == "success", F.lit(False)).otherwise(
                (F.col("error_type") == "network_error")
                | (
                    (F.col("error_type") == "http_error")
                    # try_cast: ANSI mode would otherwise abort the batch on a
                    # non-numeric code — the exact exception-as-data violation
                    # this module exists to prevent
                    & (F.col("error_code").try_cast("int") >= 500)
                )
            ),
        )
    )
