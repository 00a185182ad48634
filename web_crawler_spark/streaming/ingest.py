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
from ..schemas import FRONTIER, SEEDS_RAW
from ..sources.seeds import MAX_URLS_PER_CSV
from .marker import marker_value

_FRONTIER_COLS = [f.name for f in FRONTIER.fields]


def _admit_batch(
    batch: DataFrame,
    batch_id: int,
    frontier_table,
    *,
    exclude_anchors: bool = True,
    max_urls_per_batch: int = MAX_URLS_PER_CSV,
    meta: dict | None = None,
) -> None:
    """foreachBatch body: normalize seed rows → valid frontier rows appended
    with strict per-batch FIFO priority.

    Batch path parity caveats, by design:
    - the admission gate TRUNCATES an oversized batch to ``max_urls_per_batch``
      *admissible* seeds (the batch path raises; a stream cannot usefully
      raise per file). Invalid rows do not consume cap slots: validity is
      applied BEFORE row_index, so a batch of 999 junk rows + N good seeds
      admits all N (ADVICE r1 #4);
    - invalid rows are dropped (routing them to the fetch log is the crawl
      round's job; the stream only feeds the frontier).

    Priority: seeds stay in the depth-0 band strictly above discovered
    links — batch b, admissible row i gets ``seed_priority(b·MAX + i)``,
    clamped so even pathological batch counts never cross into the depth-1
    band (``faults.DEPTH_PRIORITY_STEP``).
    """
    url = U.remove_anchors(F.col("url")) if exclude_anchors else F.col("url")
    seeds = batch.withColumn("url", url)
    w = Window.orderBy(F.monotonically_increasing_id())
    valid = (
        seeds.filter(U.is_valid_url(F.col("url")))
        .withColumn("row_index", F.row_number().over(w) - 1)
        .filter(F.col("row_index") < max_urls_per_batch)
    )
    offset = F.col("row_index") + F.lit(batch_id * max_urls_per_batch)
    rows = (
        valid.withColumn(
            "priority",
            F.greatest(
                faults.seed_priority(offset),
                F.lit(float(-(faults.DEPTH_PRIORITY_STEP - 1))),
            ),
        )
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.url_host(F.col("url")))
        .withColumn("depth", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .withColumn("discovered_round", F.lit(0))
        .withColumn("parent_url", F.lit(None).cast("string"))
    )
    # credential columns (FRONTIER schema): streamed seed rows carry the
    # same raw CSV auth columns as the batch path (SEEDS_RAW) — parse them
    # with the identical auth_enabled/auth_type gate so stream-admitted
    # seeds authenticate exactly like read_seeds ones; ad-hoc batches
    # without the raw columns get string NULLs first (gate yields NULLs)
    from ..sources.seeds import _auth_columns

    for c in (
        "auth_enabled", "auth_type", "cookies", "auth_headers",
        "basic_auth_username", "basic_auth_password",
    ):
        if c not in rows.columns:
            rows = rows.withColumn(c, F.lit(None).cast("string"))
    rows = _auth_columns(rows, None).select(*_FRONTIER_COLS)
    frontier_table.append(rows, meta=meta)


def _idempotent_admit(batch, batch_id, frontier_table, checkpoint_dir, **kw) -> None:
    """Skip micro-batches already applied: foreachBatch replays the last
    batch after a crash between the table append and the offset commit,
    which would double-insert seed rows without this guard.

    The applied marker is recorded as commit *metadata inside the same
    SnapshotTable commit as the rows* (atomic by the manifest os.replace),
    so there is no crash window between data and marker — exactly-once
    frontier appends hold across any crash point (ADVICE r1 #1). The marker
    is scoped by the stream's query id (streaming/marker.py): batch ids are
    only meaningful within one checkpoint's lifetime, and a recreated
    checkpoint must not silently skip never-applied data."""
    mark = marker_value(checkpoint_dir, batch_id)
    if mark in frontier_table.applied_meta("ingest_batch_id"):
        return
    _admit_batch(
        batch, batch_id, frontier_table, meta={"ingest_batch_id": mark}, **kw
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
    src = (
        spark.readStream.schema(SEEDS_RAW)
        .option("header", True)
        .option("maxFilesPerTrigger", 8)
        .csv(seeds_dir)
    )
    writer = (
        src.writeStream.foreachBatch(
            lambda df, bid: _idempotent_admit(
                df, bid, frontier_table, checkpoint_dir,
                exclude_anchors=exclude_anchors,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
