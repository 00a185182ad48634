"""Explicit StructTypes for every table in the engine.

The reference keeps schemas fixed-by-convention on Python dicts/dataclasses
(reference: backend/api/models.py:19-34, crawler/link_extractor.py:121-127,
crawler/parser.py:249-253); here every schema is an explicit StructType — no
inference anywhere (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# seeds — the reference bulk-CSV schema (reference: utils/csv_processor.py:10-16,
# urls.csv.example:4-9). All columns read as string; normalization is explicit
# column expressions in sources/seeds.py.
# ---------------------------------------------------------------------------
SEEDS_RAW = StructType(
    [
        StructField("url", StringType(), True),
        StructField("mode", StringType(), True),
        StructField("scope_class", StringType(), True),
        StructField("scope_id", StringType(), True),
        StructField("format", StringType(), True),
        StructField("download_images", StringType(), True),
        StructField("link_type", StringType(), True),
        StructField("exclude_anchors", StringType(), True),
        # per-row authentication (csv_processor.py:14-15, models.py:31-34):
        # auth_type selects exactly ONE channel when auth_enabled is truthy
        StructField("auth_enabled", StringType(), True),
        StructField("auth_type", StringType(), True),
        StructField("cookies", StringType(), True),
        StructField("auth_headers", StringType(), True),
        StructField("basic_auth_username", StringType(), True),
        StructField("basic_auth_password", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# robots — per-host politeness policy, broadcast side of J4 (north rule;
# the reference only aspires to this: docs/dev-spec.md:1712).
# ---------------------------------------------------------------------------
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), True),
        StructField("crawl_delay_ms", LongType(), True),
        StructField("max_per_round", IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# frontier — the unit of schedulable work. Generalizes the reference's
# CrawlRequest (backend/api/models.py:19-34): url + provenance + priority.
# ---------------------------------------------------------------------------
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), True),
        StructField("priority", DoubleType(), False),
        StructField("depth", IntegerType(), False),
        StructField("attempts", IntegerType(), False),
        StructField("discovered_round", IntegerType(), False),
        StructField("parent_url", StringType(), True),
        # authentication carried per row (reference CrawlRequest,
        # models.py:31-34; assembly tasks.py:505-555): discovered children
        # inherit the parent's credentials — the reference's session model,
        # where one WebFetcher (cookies/headers bound at construction,
        # tasks.py:57) fetches the page and everything found on it
        StructField("cookies", MapType(StringType(), StringType()), True),
        StructField("auth_headers", MapType(StringType(), StringType()), True),
        StructField("basic_auth_user", StringType(), True),
        StructField("basic_auth_pass", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# fetch_log — per-URL result rows; mirrors the reference's result/metadata
# records (api/tasks.py:348-355, writer.py:286-308) and failure taxonomy
# (utils/error_handler.py:87-296). FIXTURES §5 shape.
# ---------------------------------------------------------------------------
FETCH_LOG = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("fetch_seq", LongType(), False),
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), True),
        StructField("status", StringType(), False),  # success | failed | skipped
        StructField("error_type", StringType(), True),
        StructField("error_code", StringType(), True),
        StructField("retry_possible", BooleanType(), True),
        StructField("attempts", IntegerType(), False),
        StructField("image_id", StringType(), True),
        StructField("psnr_db", DoubleType(), True),
        StructField("caption_ok", BooleanType(), True),
        StructField("phash_dup", BooleanType(), True),
        StructField("word_count", IntegerType(), True),
        StructField("char_count", IntegerType(), True),
        # E4 (error_handler.py:318-346): evidence of what was fetched is
        # retained per row for debugging — the byte length of the payload
        # (NULL when nothing was fetched).
        StructField("payload_len", IntegerType(), True),
        # authentication the fetch was issued with (tasks.py:42-56 logs the
        # cookie/header KEYS; the full maps are recorded here so a replay
        # can reconstruct the request). The basic-auth PASSWORD is
        # deliberately NOT logged — credentials don't belong in an audit
        # log; the username identifies the principal.
        StructField("cookies", MapType(StringType(), StringType()), True),
        StructField("auth_headers", MapType(StringType(), StringType()), True),
        StructField("basic_auth_user", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# seen — the exact URL-seen set (D4). One row per scheduled-and-settled URL.
# Partition-aligned with the frontier on pmod(url_hash, N).
# ---------------------------------------------------------------------------
SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("settled_round", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# phash_seen — distinct perceptual hashes of successfully fetched images so
# far. Maintained incrementally per round: the alternative (re-deriving it
# from the whole fetch_log each round) is O(history) per round and would not
# survive the 10^10 design point.
# ---------------------------------------------------------------------------
PHASH_SEEN = StructType([StructField("phash", LongType(), False)])

# ---------------------------------------------------------------------------
# trap_hosts — cumulative quarantine list (operators/traps.py signals over
# the round's frontier). Append-only ratchet: once flagged, a host stays
# quarantined for the rest of the run (per-round evidence SHRINKS after a
# quarantine empties the host's frontier mass, so re-deriving the flag each
# round would oscillate). Bounded by host cardinality — broadcast-joinable.
# ---------------------------------------------------------------------------
TRAP_HOSTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("flagged_round", IntegerType(), False),
        StructField("n_urls", LongType(), False),
        StructField("n_paths", LongType(), False),
        StructField("max_dup_segments", LongType(), False),
        StructField("variant_bp", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# lineage — per-round, per-hash-partition counters (north rule resume gate):
# pkey = pmod(url_hash, P) stratifies every counter so an auditor can prove
# which hash ranges progressed in each round.
# ---------------------------------------------------------------------------
LINEAGE = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("pkey", IntegerType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_selected", LongType(), False),
        StructField("rows_fetched_ok", LongType(), False),
        StructField("rows_failed", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# metrics — per-round global counters (the reference's JobStore counter
# pattern, api/models.py:170-176, done right; per-partition detail above).
# ---------------------------------------------------------------------------
METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_deduped", LongType(), False),
        StructField("rows_robots_blocked", LongType(), False),
        StructField("rows_selected", LongType(), False),
        StructField("rows_fetched_ok", LongType(), False),
        StructField("rows_failed", LongType(), False),
        StructField("rows_retried", LongType(), False),
        StructField("rows_discovered", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# admitted training pairs — the streaming pair-curation sink (one row per
# pair that survived every gate + near-dup suppression at admission time).
# phash stays in the table: it IS the near-dup index later batches probe.
# ---------------------------------------------------------------------------
ADMITTED_PAIRS = StructType(
    [
        StructField("pair_id", StringType(), False),
        StructField("phash", LongType(), False),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("lang", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("ws_tokens", LongType(), True),
    ]
)
