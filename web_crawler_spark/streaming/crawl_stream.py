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

from ..functions import urls as U
from ..operators import faults
from ..plans.round import frontier_rows
from .marker import append_once, marker_value, start_foreach_batch, stream_app_id
from .stateful import politeness_gate

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
    return start_foreach_batch(src, body, checkpoint_dir, available_now)


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
        # the candidate keeps its own host (the gate's state key); the
        # band clamp keeps even a pathological budget_per_host ≥
        # DEPTH_PRIORITY_STEP inside the depth-1 band
        append_once(
            frontier_table,
            "gate_batch_id",
            marker_value(checkpoint_dir, batch_id),
            lambda: frontier_rows(
                batch,
                priority=faults.band_priority(1, F.col("admitted_seq")),
                depth=1,
                attempts=0,
                discovered_round=0,
            ),
        )

    return start_foreach_batch(admitted, body, checkpoint_dir, available_now)
