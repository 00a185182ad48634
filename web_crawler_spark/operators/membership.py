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

import pickle

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
    - **checkpoint/resume**: ``dump`` records only sizing + watermark + the
      blob table's snapshot id; ``load`` rolls the table back to it, so a
      crash between a flush and the round checkpoint discards the
      uncheckpointed blob commit exactly like the six row tables.

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
        """Fresh start: an empty blob table (no partitions have blobs yet —
        every probe is a definite negative until the first flush)."""
        self.blob_table.overwrite_local([], WORDS_SCHEMA)

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

    def dump(self, path: str) -> None:
        from ..functions.hashing import BLOOM_FAMILY

        state = {
            "kind": self.kind,
            "family": BLOOM_FAMILY,
            "layout": "words",
            "sizing": (self.bloom.p, self.bloom.m, self.bloom.k),
            "flushed_round": self.flushed_round,
            "flush_every": self.flush_every,
            "table_sid": self.blob_table.current_snapshot_id(),
        }
        with open(path, "wb") as f:
            pickle.dump(state, f)

    @classmethod
    def load(cls, path: str, table_path: str) -> "TableSeenTiers":
        """Restore the tiers checkpointed at ``path`` over the blob table at
        ``table_path``. Checkpoints of the removed tier kinds ('distributed',
        'driver', kind-less) and of other hash families reset safely."""
        from ..functions.hashing import BLOOM_FAMILY

        with open(path, "rb") as f:
            state = pickle.load(f)
        tiers = cls(table_path, flush_every=state["flush_every"])
        # restore the CHECKPOINTED sizing, not the derived one: the stored
        # bits are only meaningful under the (p, m, k) they were written
        # with, and a legacy checkpoint whose explicit P predates the
        # blob-size guard must still resume. Rebuilding through the
        # constructor re-pads a legacy m to whole 512-bit blocks.
        sizing = state["sizing"] if "sizing" in state else state["bloom"][:3]
        tiers.bloom = PartitionedBloom(*sizing)
        if (
            state.get("kind") == cls.kind
            and state.get("family") == BLOOM_FAMILY
            and state.get("layout") == "words"
        ):
            tiers.flushed_round = state["flushed_round"]
            sid = state["table_sid"]
            if sid is not None and tiers.blob_table.current_snapshot_id() != sid:
                # discard blob commits past the checkpoint (crash mid-round)
                tiers.blob_table.rollback(sid)
        else:
            # A different hash family, the legacy binary layout, or a tier
            # kind whose blobs never lived in this table: reusing those bits
            # would create false negatives (an exactness bug). Reset to an
            # empty words table + watermark 0 — the derived hot tier covers
            # the whole seen set exactly until the next flush rebuilds the
            # filter. Slower, never wrong.
            tiers.init_table()
            tiers.flushed_round = 0
        return tiers
