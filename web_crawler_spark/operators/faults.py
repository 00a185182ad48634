"""Deterministic fault-simulation and priority rules — the single source of
truth shared by the Spark engine (column expressions) and the pure-Python
oracle crawler (scalar functions). Any drift between the two breaks the
round-trip test, by design.

The reference fetches the live network; its failure modes are mapped by
utils/error_handler.py:87-296 into a taxonomy. In the sandbox the network is
simulated: a URL's fate is a deterministic function of its xxhash64, so both
engines agree without any shared state:

- ``TRANSIENT_MOD``: pmod(xxhash64(url), 23) == 0 → the first attempt times
  out (network_error/TIMEOUT, retryable per error_handler.py:144); retries
  succeed. Models the reference's ≤3-attempt retry loop (fetcher.py:73-93).
- a URL with no row in the `urls` table (dangling link) → HTTP 404
  (http_error, not retryable: status_code < 500).
- a URL whose page row has undecodable bytes → content_error.

Priority scheme (pinned; SURVEY §3.3 ordering contract): one rule,
``band_priority(depth, offset)`` = -(STEP·depth + min(offset, STEP - 1)),
STEP = ``DEPTH_PRIORITY_STEP``.
- seed row i (0-based)      → band_priority(0, i) = -i (reproduces the
  reference's strict FIFO bulk order, api/tasks.py:488, when budgets don't
  bind); stream-ingested seeds use offset b·MAX + i, gated candidates
  band_priority(1, admitted_seq)
- link discovered at depth d → discovered_priority(d) = -STEP·d, the
  band's head
- the clamp keeps every row inside its band: past the band's width
  (offset ≥ STEP - 1) seeds keep precedence over every discovered band but
  tie with each other, and ties go by url_hash
- total order within a round: (priority DESC, url_hash ASC) — deterministic
  under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import xxh64_str

TRANSIENT_MOD = 23
MAX_ATTEMPTS = 3
DEPTH_PRIORITY_STEP = 1_000_000


# -- Spark side --------------------------------------------------------------

def is_transient_fault(url_hash: Column, attempts: Column) -> Column:
    """True when this attempt times out (first attempt of a transient URL)."""
    return (F.pmod(url_hash, F.lit(TRANSIENT_MOD)) == 0) & (attempts == 0)


def band_priority(depth, offset: Column) -> Column:
    """Priority of the ``offset``-th row of depth band ``depth`` (an int or
    a Column), the offset clamped to the band's width. A negated cast, so
    offset 0 of band 0 stores -0.0, as seed 0 always has."""
    return -(
        F.lit(DEPTH_PRIORITY_STEP) * depth
        + F.least(offset, F.lit(DEPTH_PRIORITY_STEP - 1))
    ).cast("double")


def discovered_priority(depth: Column) -> Column:
    return (-F.lit(DEPTH_PRIORITY_STEP) * depth).cast("double")


# -- oracle side -------------------------------------------------------------

def py_is_transient_fault(url: str, attempts: int) -> bool:
    return xxh64_str(url) % TRANSIENT_MOD == 0 and attempts == 0


def py_band_priority(depth: int, offset: int) -> float:
    return -float(DEPTH_PRIORITY_STEP * depth + min(offset, DEPTH_PRIORITY_STEP - 1))


def py_discovered_priority(depth: int) -> float:
    return float(-DEPTH_PRIORITY_STEP * depth)
