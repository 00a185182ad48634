"""Link-graph analytics for crawl prioritization.

A production frontier ranks URLs partly by link structure (popular pages
first). The reference has no notion of this (single-hop, FIFO); the north
rule's priority queue makes it natural: ``pagerank`` produces a per-URL
score that can feed ``frontier.priority`` directly.

Determinism contract (same discipline as the similarity suite): ranks are
**integer-scaled** (RANK_SCALE = 1e6) and every update uses only integer
addition and integer floor-division, so results are bit-identical across
engines (the DuckDB oracle replays the same iterations), cluster sizes,
and partition counts — float summation order never enters the picture.

Scale notes: each iteration is one equi-join (ranks ⋈ edges on src) + one
groupBy(dst) sum — O(E) shuffled per iteration, map-side partial
aggregation, AQE-skew-safe; per-iteration ``localCheckpoint`` keeps the
plan flat (see connected_components for why persist alone is not enough).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_frame, truncate_plan

RANK_SCALE = 1_000_000
DAMPING_NUM, DAMPING_DEN = 85, 100  # 0.85 as an exact integer ratio


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list.

    rank⁰(v) = RANK_SCALE for every node (union of srcs and dsts);
    rankᵏ⁺¹(v) = (1−d)·RANK_SCALE + d · Σ_{u→v} rankᵏ(u) div out(u),
    with d = 85/100 applied as ``(85·s) div 100`` — all integer floor
    divisions, so the result is a pure function of the edge set.
    Simplified model: dangling-node mass leaks (no redistribution) —
    standard for prioritization use, documented. Output
    (node, rank_int, rank) with rank = rank_int / RANK_SCALE.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).distinct()
    e = truncate_plan(e)
    nodes = truncate_plan(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out"))
    base = (RANK_SCALE * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN

    ranks = nodes.select("node", F.lit(RANK_SCALE).cast("long").alias("rank_int"))
    prev_ckpt = None  # rank⁰ is a projection of nodes — nothing to free yet
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .select(
                "dst",
                F.expr("rank_int div out").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # truncate_plan, not bare localCheckpoint: the next iterate joins
        # this one back into the plan, and inherited size estimates would
        # compound per round (see session.truncate_plan — BigInteger
        # overflow at high iteration counts)
        ranks = truncate_plan(
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({DAMPING_NUM} * coalesce(s, 0)) div {DAMPING_DEN}")
                ).cast("long").alias("rank_int"),
            )
        )
        # the new iterate is materialized; last round's blocks are dead —
        # free them now instead of waiting on nondeterministic JVM GC
        # (an iterative operator otherwise holds O(iters) frames at peak)
        if prev_ckpt is not None:
            release_frame(prev_ckpt)
        prev_ckpt = ranks
    # the returned frame never reads the edge checkpoint (rank⁰ projects
    # off ``nodes`` only; later iterates are lineage-truncated), so edges
    # are always releasable here. ``nodes`` stays alive only for iters=0.
    release_frame(e)
    if prev_ckpt is not None:
        release_frame(nodes)
    return ranks.select(
        "node",
        "rank_int",
        (F.col("rank_int").cast("double") / RANK_SCALE).alias("rank"),
    )


# test hook (the TRAIN_RUNS pattern): load_or_build must not rebuild when a
# saved index's params + corpus key match
RANK_BUILDS = 0


class RankIndex:
    """Build/probe split for link-rank prioritization (VERDICT r3 #3 — the
    ``IvfIndex``/``NearDupIndex`` pattern applied to PageRank).

    Without the split every rank consumer re-derives the edge list and
    re-runs all rank iterations per call. At 100 TB rank refresh is a
    periodic offline job over the links snapshot; every consumer — the
    frontier scheduler, analytics, audits — reads the rank TABLE. The index
    factors it so:

    - **load_or_build** (build once per links snapshot): ``pagerank`` over
      the edges, ranks committed to the ``SnapshotTable`` at ``root``
      unless it is current for ``{iters, corpus_key}``
      (``sources.lake.load_or_build``). ``corpus_key`` identifies the edge
      snapshot the ranks were trained on (links-table snapshot id, corpus
      fingerprint, or sf_dir slug) so a refreshed corpus invalidates the
      index. ``pagerank`` is integer-exact (no float summation), so a
      loaded index is bit-identical to a rebuilt one — correctness oracles
      are unchanged. ``edges`` is a LAZY DataFrame: on the load path it is
      never executed, so callers may pass arbitrarily expensive edge
      derivations for free.
    - **probe**: ``ranks()`` is a table scan; join it on ``node``.
    """

    SCHEMA = "node long, rank_int long"

    def __init__(self, spark, table):
        self.spark = spark
        self.table = table

    @classmethod
    def load_or_build(
        cls, edges: DataFrame, root: str, *, iters: int = 3, corpus_key: str = ""
    ) -> "RankIndex":
        from ..sources.lake import SnapshotTable, load_or_build

        table = SnapshotTable(root)

        def build(meta: dict) -> None:
            global RANK_BUILDS
            RANK_BUILDS += 1
            ranked = pagerank(edges, iters=iters).select("node", "rank_int")
            table.overwrite(ranked, meta=meta)
            # the table commit materialized the final iterate; free its
            # localCheckpoint blocks (``ranked`` projects over it, owned here)
            release_frame(ranked, deep=True)

        params = {"iters": int(iters), "corpus_key": str(corpus_key)}
        load_or_build([table], params, build)
        return cls(edges.sparkSession, table)

    def ranks(self, spark=None) -> DataFrame:
        """(node, rank_int, rank) — a scan of the persisted rank table,
        schema-identical to ``pagerank``'s output. Pass ``spark`` to plan
        the scan on a specific session (e.g. the crawl round's private
        clone); defaults to the session the index was built/loaded on."""
        return self.table.read(spark or self.spark, schema=self.SCHEMA).select(
            "node",
            "rank_int",
            (F.col("rank_int").cast("double") / RANK_SCALE).alias("rank"),
        )
