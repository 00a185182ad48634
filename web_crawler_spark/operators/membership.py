"""The URL-seen membership tier (D4 at 10^10 scale).

One tier, two halves behind one probe:

    might_contain(h) = bloom-hit(h) OR hot-hit(h)

- **cold**: the partitioned Bloom filter (bloom.py), stored as (pkey, words)
  rows in a snapshot table, append-only, absorbing the hot half every
  ``flush_every`` rounds;
- **hot**: *derived*, not a data structure — the exact seen table's rows
  settled after the last flush watermark (a stats-pruned snapshot scan
  reads only the post-watermark commits). It is an exact sliding window
  over ``settled_round``, so deletes and exactness cost nothing.

Routing per round (plans/round.py):
    definite negatives (¬might_contain)  → schedulable immediately, SKIP the
                                           exact anti-join entirely
    positives (hits + false positives)   → confirmed against the exact seen
                                           table (anti-join on a shrunken
                                           probe side) — false-positive
                                           rescue keeps the seen set EXACT
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import WORDS_SCHEMA, PartitionedBloom, or_merge_words, probe_words_joined

DEFAULT_FLUSH_EVERY = 4


class TableSeenTiers:
    """Bloom blobs as a snapshot TABLE plus the derived hot tier.

    At 10^10 keys / 14 bits the filter is ~17.5 GB — too big for the driver
    or a broadcast — so the blobs are (pkey, words) rows in a
    ``SnapshotTable`` and no per-key state lives on the driver:

    - **probe**: candidates equi-join their blob row on pkey and the k bit
      tests evaluate as COLUMN EXPRESSIONS (``bloom.probe_words_joined``) —
      fully JVM-side in whole-stage codegen. Catalyst broadcasts the blob
      table while it is MB-sized and falls back to a sort-merge join on
      pkey at the 10^10 point. The hot slice joins by broadcast: it is
      bounded by flush_every · Σ host budgets (politeness caps it).
    - **flush**: ``bloom.or_merge_words`` ORs the post-watermark seen slice
      into the blob rows and overwrites the table — one distributed job,
      zero blob bytes through the driver.
    - **checkpoint/resume**: ``state()`` is a few JSON-safe integers
      (family, sizing, watermark, flush_every, the blob table's snapshot
      id) that ride in the round's ``checkpoint.json``; ``restore`` rolls
      the table back to that id, so a crash between a flush and the round
      checkpoint discards the uncheckpointed blob commit exactly like the
      seven row tables.

    Exactness: might_contain=False skips the exact anti-join, positives are
    confirmed against the exact seen table, so the seen set stays EXACT.
    """

    kind = "table"

    def __init__(
        self,
        table_path: str,
        expected_keys: int = 1 << 20,
        *,
        bloom_partitions: int | None = None,
        flush_every: int = DEFAULT_FLUSH_EVERY,
    ):
        from ..sources.lake import SnapshotTable

        # bloom_partitions=None derives P from expected_keys so blob size
        # stays ≤32 MiB at ANY design point (10^10 keys ⇒ P=1024/~17 MB
        # blobs); an explicit P that would exceed 64 MiB blobs raises at
        # construction (r4 VERDICT Wrong #2). The driver holds only the
        # sizing: ``self.bloom.blobs`` stays empty.
        self.bloom = PartitionedBloom.sized_for(
            expected_keys=expected_keys, n_partitions=bloom_partitions
        )
        self.flush_every = flush_every
        self.flushed_round = 0
        self.blob_table = SnapshotTable(table_path)

    def init_table(self) -> None:
        """Reset: an empty blob table and watermark 0 (no partitions have
        blobs yet — every probe is a definite negative until the first
        flush, and the exact hot slice covers the whole seen set)."""
        self.blob_table.overwrite_local([], WORDS_SCHEMA)
        self.flushed_round = 0

    def _words_df(self, spark) -> DataFrame:
        return self.blob_table.read(spark, schema=WORDS_SCHEMA)

    def hot_slice(self, spark, seen_table, hash_col: str = "url_hash") -> DataFrame:
        """The derived hot tier: seen rows settled after the flush watermark.
        The snapshot scan prunes commits entirely below it via min/max
        stats; the residual filter keeps the slice exact within kept dirs."""
        from ..schemas import SEEN

        lo = self.flushed_round + 1
        return (
            seen_table.read(
                spark, schema=SEEN, prune={"settled_round": (lo, None)}
            )
            .filter(F.col("settled_round") >= lo)
            .select(F.col("url_hash").alias(hash_col))
        )

    def end_round(self, current_round: int, seen_table, spark) -> None:
        """Absorb the hot slice into the blob table every flush_every
        rounds (one distributed OR-merge; no blob bytes via the driver)."""
        if current_round - self.flushed_round < self.flush_every:
            return
        merged = or_merge_words(
            self.hot_slice(spark, seen_table),
            self._words_df(spark),
            m=self.bloom.m,
            k=self.bloom.k,
            p=self.bloom.p,
        )
        self.blob_table.overwrite(merged)
        self.flushed_round = current_round

    def probe(
        self, df: DataFrame, spark, seen_table, hash_col: str = "url_hash"
    ) -> DataFrame:
        """Attach ``might_contain`` = bloom-hit OR hot-hit, executor-side."""
        hot = self.hot_slice(spark, seen_table, hash_col=hash_col).withColumn(
            "__hot", F.lit(True)
        )
        probed = probe_words_joined(
            df,
            self._words_df(spark),
            m=self.bloom.m,
            k=self.bloom.k,
            p=self.bloom.p,
            hash_col=hash_col,
        )
        return (
            probed.join(F.broadcast(hot), hash_col, "left")
            .withColumn(
                "might_contain",
                F.col("might_contain") | F.coalesce(F.col("__hot"), F.lit(False)),
            )
            .drop("__hot")
        )

    # ------------------------------------------------------------- persistence

    def state(self) -> dict:
        """The JSON-safe tier state recorded in the round checkpoint."""
        from ..functions.hashing import BLOOM_FAMILY

        return {
            "family": BLOOM_FAMILY,
            "sizing": [self.bloom.p, self.bloom.m, self.bloom.k],
            "flushed_round": self.flushed_round,
            "flush_every": self.flush_every,
            "table_sid": self.blob_table.current_snapshot_id(),
        }

    def restore(self, state: dict | None) -> None:
        """Adopt a checkpointed ``state()``: its sizing, watermark and
        flush_every, with the blob table rolled back to its snapshot id
        (discarding blob commits past the checkpoint). Anything else —
        None, another hash family — resets through ``init_table``:
        reusing bits written under another family would create false
        negatives (an exactness bug), while an empty table + watermark 0
        lets the exact hot slice cover the whole seen set until the next
        flush rebuilds the filter. Slower, never wrong."""
        from ..functions.hashing import BLOOM_FAMILY

        if state is None or state.get("family") != BLOOM_FAMILY:
            self.init_table()
            return
        self.bloom = PartitionedBloom(*state["sizing"])
        self.flushed_round = state["flushed_round"]
        self.flush_every = state["flush_every"]
        sid = state["table_sid"]
        if self.blob_table.current_snapshot_id() != sid:
            self.blob_table.rollback(sid)
