"""The crawl loop under Structured Streaming (VERDICT r1 #9).

SURVEY §2.11 promised "if streaming is ever wanted, foreachBatch wraps the
same round function unchanged" — this module delivers exactly that:

- ``crawl_round_stream``: a file-source tick stream drives ONE scheduling
  round per micro-batch via ``foreachBatch``; the round body is the batch
  engine's ``CrawlRun.run_round`` verbatim, so streamed and batch crawls
  are byte-identical (pinned in tests). Round application is exactly-once
  against ANY crash point: the stream batch_id rides in the round's final
  atomic checkpoint — written only after all six table commits — so a
  replayed micro-batch either sees the marker (round fully committed →
  skip) or doesn't (crash mid-round → ``resume()`` rolls every table back
  to the checkpoint, then the round re-runs cleanly). A round spans
  multiple table commits, so a mid-round marker could never be atomic;
  the checkpoint is the engine's existing single commit point. This does
  assume the round stream is the run's only writer between checkpoints —
  feed concurrent seed ingest through its own staging table (e.g.
  ``ingest_gated_candidates`` below), not the live run frontier.
- ``ingest_gated_candidates``: wires the stateful per-host politeness gate
  (``streaming.stateful.politeness_gate`` — applyInPandasWithState with a
  budget that persists ACROSS micro-batches) in front of frontier
  admission: a stream of discovered candidates is budget-limited per host,
  and only admitted rows become frontier rows. The admitted sequence sets
  priority (earlier admission → higher priority), keeping the downstream
  round deterministic.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import FRONTIER
from ..operators import faults
from ..functions import urls as U
from .marker import marker_value, stream_app_id
from .stateful import politeness_gate

_FRONTIER_COLS = [f.name for f in FRONTIER.fields]

TICK_SCHEMA = "tick long"


def crawl_round_stream(
    spark: SparkSession,
    run,
    ticks_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """One ``CrawlRun.run_round`` per micro-batch, one tick file per
    trigger. Returns the started StreamingQuery.

    The tick payload is ignored — a tick is a scheduling impulse (on a
    cluster this is a processing-time trigger; in tests, files). Exactly
    once per batch id: fully-committed rounds are skipped on replay via
    the checkpoint marker; partially-committed rounds (crash before the
    checkpoint) are rolled back and re-run.
    """

    def body(_df, batch_id: int) -> None:
        state = run.checkpoint_state()
        app_id = stream_app_id(checkpoint_dir)
        # this CrawlRun object must mirror the on-disk checkpoint before it
        # runs (or skips) anything: a restart after round >= 1 hands the
        # stream a brand-new CrawlRun whose round counter (and tier state)
        # lags the checkpoint. At round 0 a fresh CrawlRun already equals
        # the checkpoint (its tier is built from the config: watermark 0,
        # config sizing, blob table at its start() commit).
        stale = run.round != state.get("round", 0)
        # marker scoped by the stream's query id: batch ids of a recreated
        # checkpoint renumber from 0 and must not be confused with the old
        # stream's — each tick of the new stream runs its round normally.
        same_stream = state.get("stream_app_id") == app_id
        if same_stream and batch_id <= state.get("stream_batch_id", -1):
            # round fully committed before the crash → skip replay, but
            # still adopt the on-disk state for the next non-replayed batch
            if stale:
                run.resume()
            return
        if run.dirty_vs_checkpoint() or stale:
            # dirty: discard the crashed attempt's partial commits.
            # stale with CLEAN tables: adopt the checkpoint's round
            # counter and tier state (no rollback needed).
            run.resume()
        run.run_round(
            checkpoint_extra={"stream_batch_id": batch_id, "stream_app_id": app_id}
        )

    src = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .csv(ticks_dir)
    )
    writer = src.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_gated_candidates(
    spark: SparkSession,
    candidates_dir: str,
    frontier_table,
    checkpoint_dir: str,
    *,
    budget_per_host: int,
    available_now: bool = True,
):
    """Stream (host, url, ts) candidates through the stateful politeness
    gate into the frontier table.

    The gate admits at most ``budget_per_host`` rows per host over the
    stream's lifetime (GroupState running count — the budget binds ACROSS
    micro-batches, which no stateless per-batch window can express).
    Admitted rows become frontier rows; priority = −admitted_seq in the
    depth-1 band so earlier admissions schedule first.
    """
    src = (
        spark.readStream.schema("host string, url string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(candidates_dir)
    )
    # validity gates BEFORE the stateful budget: the gate's GroupState count
    # is the host's lifetime budget, so an invalid candidate admitted and
    # then dropped in the batch body would burn a slot irrecoverably — a
    # host whose stream opens with budget_per_host malformed URLs would
    # never crawl (the seed-ingest path enforces the same invariant:
    # "invalid rows do not consume cap slots", ADVICE r1 #4)
    admitted = politeness_gate(
        src.filter(U.is_valid_url(F.col("url"))), budget_per_host
    )

    def body(batch, batch_id: int) -> None:
        mark = marker_value(checkpoint_dir, batch_id)
        if mark in frontier_table.applied_meta("gate_batch_id"):
            return
        rows = (
            batch.select(
                "url",
                U.url_hash(F.col("url")).alias("url_hash"),
                F.col("host"),
                # clamp inside the depth-1 band: even a pathological
                # budget_per_host ≥ DEPTH_PRIORITY_STEP must not push an
                # admission below the depth-2 band (the seed-ingest path
                # enforces the same invariant for batch counts)
                F.greatest(
                    faults.discovered_priority(F.lit(1))
                    - F.col("admitted_seq").cast("double"),
                    F.lit(float(-(2 * faults.DEPTH_PRIORITY_STEP - 1))),
                ).alias("priority"),
                F.lit(1).alias("depth"),
                F.lit(0).alias("attempts"),
                F.lit(0).alias("discovered_round"),
                F.lit(None).cast("string").alias("parent_url"),
                # gated candidates carry no credentials (FRONTIER schema)
                F.lit(None).cast("map<string,string>").alias("cookies"),
                F.lit(None).cast("map<string,string>").alias("auth_headers"),
                F.lit(None).cast("string").alias("basic_auth_user"),
                F.lit(None).cast("string").alias("basic_auth_pass"),
            )
            .select(*_FRONTIER_COLS)
        )
        frontier_table.append(rows, meta={"gate_batch_id": mark})

    writer = admitted.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
