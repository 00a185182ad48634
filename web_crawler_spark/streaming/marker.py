"""The exactly-once foreachBatch sink: how a stream is started
(``start_foreach_batch``), how a micro-batch lands at most once
(``append_once``) and the marker identity that makes a replay detectable.

Structured Streaming batch ids are only meaningful relative to ONE stream
checkpoint: a recreated checkpoint (ops wipe, or a second stream feeding
the same table) renumbers batches from 0. A marker keyed on the bare
batch_id would then silently skip never-applied data — batch 3 of the new
stream is not batch 3 of the old one. Scoping the marker by the stream's
query id (which Spark regenerates whenever the checkpoint directory is
recreated) keeps idempotence exactly where it is sound: replays WITHIN one
checkpoint's lifetime.

Re-feeding the same source through a fresh checkpoint therefore re-applies
it — the correct default for this engine, where the crawl round's seen-set
anti-join and first-wins dedupe make duplicated frontier rows harmless,
and the alternative (silently dropping new data) is never recoverable.
"""

from __future__ import annotations

import json
import os


def stream_app_id(checkpoint_dir: str) -> str:
    """Identity of the stream incarnation writing through this checkpoint:
    Structured Streaming's query id, read from the checkpoint's ``metadata``
    file (written at stream start, so it exists by the time any foreachBatch
    body runs). Falls back to the checkpoint path if the file is missing or
    unreadable (pre-start probing, hand-rolled checkpoints)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            qid = json.load(f)["id"]
        return str(qid)
    except (FileNotFoundError, KeyError, ValueError):
        return os.path.abspath(checkpoint_dir)


def marker_value(checkpoint_dir: str, batch_id: int) -> str:
    """The value recorded in (and checked against) SnapshotTable commit
    metadata for one applied micro-batch."""
    return f"{stream_app_id(checkpoint_dir)}:{int(batch_id)}"


def start_foreach_batch(stream, body, checkpoint_dir: str, available_now: bool):
    """Start ``stream`` with ``body(batch_df, batch_id)`` as its foreachBatch
    sink, checkpointed at ``checkpoint_dir``. ``available_now`` drains what
    the source holds and stops (the test/CI mode); without it the query
    keeps running. Returns the started StreamingQuery."""
    writer = stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def append_once(table, key: str, mark, rows):
    """The exactly-once step of a foreachBatch body: append ``rows()`` to
    the SnapshotTable ``table`` with ``meta={key: mark}``, unless a commit
    already carries ``mark`` under ``key``. The marker rides in the same
    atomic commit as the rows, so there is no crash window between data and
    marker: a batch replayed after any crash point is skipped. ``rows`` is
    only called when the batch applies, so a replay plans and runs nothing.
    Returns the appended frame, or None for a skipped replay."""
    if mark in table.applied_meta(key):
        return None
    df = rows()
    table.append(df, meta={key: mark})
    return df
