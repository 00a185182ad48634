"""Structured Streaming surfaces.

The crawl loop itself is micro-batch by construction (SURVEY §2.11): the
reference has no streaming — its "live progress" is a polled background
thread (api/routes.py:217-263). Two genuine streaming surfaces are still
useful at scale and are provided here:

- ``ingest_seed_stream``: continuous seed admission. A file-source stream of
  seed CSVs lands new frontier rows via ``foreachBatch``; the batch body is
  the SAME normalization + admission dataflow the batch path uses (the
  foreachBatch-wraps-the-round-unchanged pattern).
- ``hourly_rollup_stream``: watermarked event-time hourly aggregation of an
  events stream with late-data tolerance — the streaming twin of the batch
  ``events_hourly`` query.

Both are exercised with ``availableNow`` triggers in tests (no long-running
daemons in CI); on a cluster the same code runs with a processing-time
trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import faults
from ..plans.round import frontier_rows
from ..schemas import SEEDS_RAW
from ..sources.seeds import MAX_URLS_PER_CSV, _auth_columns
from .marker import append_once, marker_value, start_foreach_batch


def _admit_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    exclude_anchors: bool = True,
    max_urls_per_batch: int = MAX_URLS_PER_CSV,
) -> DataFrame:
    """foreachBatch rows: a SEEDS_RAW-schema batch → normalized, valid
    frontier rows with strict per-batch FIFO priority.

    Batch path parity caveats, by design:
    - the admission gate TRUNCATES an oversized batch to ``max_urls_per_batch``
      *admissible* seeds (the batch path raises; a stream cannot usefully
      raise per file). Invalid rows do not consume cap slots: validity is
      applied BEFORE row_index, so a batch of 999 junk rows + N good seeds
      admits all N (ADVICE r1 #4);
    - invalid rows are dropped (routing them to the fetch log is the crawl
      round's job; the stream only feeds the frontier).

    Priority: batch b, admissible row i gets ``faults.band_priority(0,
    b·MAX + i)`` — the seed band, clamped so even pathological batch counts
    never cross into the depth-1 band. Credentials parse through
    ``read_seeds``' own auth_enabled/auth_type gate, so stream-admitted
    seeds authenticate exactly like batch ones.
    """
    url = F.trim(F.col("url"))  # as read_seeds does
    url = U.remove_anchors(url) if exclude_anchors else url
    w = Window.orderBy(F.monotonically_increasing_id())
    valid = (
        batch.withColumn("url", url)
        .filter(U.is_valid_url(F.col("url")))
        .withColumn("row_index", F.row_number().over(w) - 1)
        .filter(F.col("row_index") < max_urls_per_batch)
    )
    offset = F.col("row_index") + F.lit(batch_id * max_urls_per_batch)
    return frontier_rows(
        _auth_columns(valid, None),
        priority=faults.band_priority(0, offset),
        depth=0,
        attempts=0,
        discovered_round=0,
    )


def _idempotent_admit(batch, batch_id, frontier_table, checkpoint_dir, **kw) -> None:
    """Append ``_admit_batch``'s rows exactly once per micro-batch:
    foreachBatch replays the last batch after a crash between the table
    append and the offset commit, which would double-insert seed rows
    without the ``append_once`` marker. The marker is scoped by the
    stream's query id (streaming/marker.py): batch ids are only meaningful
    within one checkpoint's lifetime, and a recreated checkpoint must not
    silently skip never-applied data."""
    append_once(
        frontier_table,
        "ingest_batch_id",
        marker_value(checkpoint_dir, batch_id),
        lambda: _admit_batch(batch, batch_id, **kw),
    )


def ingest_seed_stream(
    spark: SparkSession,
    seeds_dir: str,
    frontier_table,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    exclude_anchors: bool = True,
):
    """Stream seed CSVs from a directory into the frontier table.

    Returns the StreamingQuery (already started). With ``available_now``
    the query drains existing files and stops — the test/CI mode; without
    it the stream keeps watching the directory. Batch application is
    idempotent on (stream query id, batch_id) — exactly-once frontier
    appends across restarts of the SAME checkpoint; a recreated checkpoint
    re-applies (see streaming/marker.py for why that is the sound default).

    Schema-on-read contract: file streams need the schema up front, so
    streamed seed CSVs must follow the canonical SEEDS_RAW column order
    (the batch path, sources/seeds.read_seeds, is header-name-keyed and
    accepts any order).
    """
    # escape='"': RFC-4180 doubled quotes, as read_seeds parses them — a
    # header JSON like "{""k"": ""v""}" must not keep its doubled quotes
    src = (
        spark.readStream.schema(SEEDS_RAW)
        .option("header", True)
        .option("escape", '"')
        .option("maxFilesPerTrigger", 8)
        .csv(seeds_dir)
    )
    return start_foreach_batch(
        src,
        lambda df, bid: _idempotent_admit(
            df, bid, frontier_table, checkpoint_dir, exclude_anchors=exclude_anchors
        ),
        checkpoint_dir,
        available_now,
    )


def hourly_rollup_stream(
    events: DataFrame, *, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked event-time hourly rollup (streaming DataFrame in, ready
    for ``writeStream``): counts + exact-cents value sums per
    (event_type, hour window); late rows beyond the watermark are dropped."""
    cents = F.round(F.col("value") * 100).cast("long")
    # NTZ parquet timestamps must become session-TZ (UTC-pinned) event time
    # before a watermark can track them
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        )
    )
