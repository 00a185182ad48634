"""Document deduplication suite for the training-data pipeline.

Beyond-reference additions (the reference dedupes only URLs — SURVEY §2.5);
these are the operators a 100 TB corpus pipeline needs over ``documents``:

- ``exact_dupes``          hash-groupBy exact duplicate clustering
- ``ngram_jaccard_pairs``  exact all-pairs Jaccard ≥ τ via shingle inverted
                           index join (never a cross join)
- ``minhash_signatures`` / ``lsh_candidate_pairs`` / ``minhash_dedupe``
                           MinHash + banded LSH, candidates confirmed by
                           exact Jaccard
- ``simhash_pairs``        SimHash near-dup pairs via band-join + hamming

The near-dup tail, shared with the image suite and the pair stream:
``banded_pairs`` (the one banded Hamming self-join, 60-bit simhash or
64-bit phash), ``hamming_clusters`` (banded pairs → connected components
→ (id, cluster_id)) and ``keep_survivors`` (the survivor rule: drop each
clustered non-representative, label the rest representative/unique).

Scale notes (100 TB):
- Every pair-generating join is an equi-join on a hash key (shingle hash,
  band bucket, simhash band) — shuffle-partitioned, AQE-skew-safe, and
  linear in corpus size + candidate count; there is no O(n²) stage.
- ``max_df`` prunes stop-shingles (shingles occurring in more than max_df
  docs) before the inverted-index join — the classic frequency cut that
  keeps hub shingles from quadratic blowup.
- Hash family is ``md5_long`` (functions/text.py) so the DuckDB oracle can
  replay every stage bit-for-bit; swap ``hash_fn`` for ``F.xxhash64`` on a
  production cluster for ~3× cheaper signatures (same structure).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql.types import StructField, StructType
from pyspark.sql import functions as F

from ..functions.text import SIMHASH_BITS, md5_long, shingle_hashes
import contextlib as _contextlib

from ..session import (
    SMALL_STAGE_CONFS,
    release_frame,
    scoped_confs,
    truncate_plan,
)

DEFAULT_PERMS = 32
# 4 bands × 8 rows: r=8 keeps moderate-similarity pairs (J≈0.4-0.5, which
# low-entropy corpora produce in bulk) out of the candidate set — p(candidate)
# at J=0.45 is 4·0.45⁸ ≈ 0.7% vs ~28% at r=4. Catch probability stays ≈1 for
# true near-dups (J≥0.95); at exactly J=0.8 it is 1−(1−0.8⁸)⁴ ≈ 0.52 —
# raise perms/bands for higher recall at the threshold boundary.
DEFAULT_BANDS = 4


def exact_dupes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate clusters by content hash: one row per duplicated
    text, with the representative (min id), copy count, and member ids."""
    return (
        df.select(F.col(id_col).alias("doc_id"), md5_long(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list("doc_id")).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(F.col(text_col), k).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold.

    Inverted-index formulation: explode distinct shingle hashes, self-join
    on the hash (only docs sharing ≥1 shingle ever meet), count shared
    shingles per pair, then J = |∩| / (|A|+|B|−|∩|). Output
    (doc_a, doc_b, n_inter, n_union, jaccard) with doc_a < doc_b; the
    threshold is applied as an exact integer inequality, jaccard is a
    4dp convenience column.
    """
    # The r5 speedups live in the PLAN, not the shingling: the exploded
    # shingle set is checkpointed once for its three consumers (sizes +
    # both join sides — previously recomputed per consumer), and the
    # self-join is shuffle-hash (below). An exploded substr+md5+distinct
    # codegen formulation of the shingling itself measured EQUAL to this
    # array form on a quiet host (an early "8x" reading was measurement
    # contention) while costing an extra distinct shuffle — array_distinct
    # does that work per-row, shuffle-free.
    sh = _shingled(df, id_col, text_col, k)
    ex = sh.select("doc_id", F.explode("shingles").alias("h"))
    if max_df is not None:
        keep = ex.groupBy("h").count().filter(F.col("count") <= max_df).select("h")
        ex = ex.join(keep, "h", "left_semi")
    ex = ex.localCheckpoint(eager=True)
    # set sizes over the (possibly df-capped) shingle space, so J is a true
    # Jaccard of the space the intersection is computed in
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = ex.alias("a")
    # shuffle-hash instead of sort-merge: the join's cost is its OUTPUT
    # fan-out (Σ df(h)² rows on a low-entropy corpus), and sorting both
    # inputs buys nothing for that — the hint measured 2.3x faster here.
    # Build-side memory is bounded by the disclosed doc bound the callers
    # apply (this operator is the exact-quadratic baseline; LSH is the
    # scale path).
    b = ex.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return _finish_pairs(inter.join(sa, "doc_a").join(sb, "doc_b"), threshold)


def _finish_pairs(joined: DataFrame, threshold: float) -> DataFrame:
    """Shared tail: exact integer union size, integer-exact threshold
    (10000·|∩| ≥ τ·10⁴·|∪| — never a rounded-double compare), plus a
    4dp jaccard column for human consumption."""
    thr = int(round(threshold * 10000))
    return (
        joined.withColumn(
            "n_union", (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long")
        )
        .withColumn("n_inter", F.col("n_inter").cast("long"))
        .filter(F.col("n_inter") * 10000 >= F.lit(thr) * F.col("n_union"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter").cast("double") / F.col("n_union").cast("double"), 4),
        )
        .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    )


def perm_constant(p: int) -> int:
    """Deterministic 60-bit xor constant for permutation ``p`` — the
    md5_long of ``'perm:p'``, reproducible in DuckDB by the same formula."""
    import hashlib

    return int(hashlib.md5(f"perm:{p}".encode()).hexdigest()[:15], 16)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, perms: int = DEFAULT_PERMS
) -> DataFrame:
    """MinHash signature per doc: sig[p] = min over shingles of
    ``md5_long(shingle) XOR C_p``.

    Each shingle is hashed **once**; the permutation family is xor with a
    per-perm constant (a standard cheap min-hash family — not min-wise
    independent, but signature quality only steers candidate recall here:
    every candidate is confirmed by exact Jaccard downstream). This is the
    difference between |shingles| and |shingles|·perms md5 evaluations per
    document. Explode + one groupBy computes all perm-minima in a single
    data pass with map-side partial aggregation (one shuffle on doc_id) —
    a projection-form signature would risk Catalyst's project-collapse
    re-expanding the gram hashing once per permutation.
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_hashes(F.col(text_col), k)).alias("h"),
    )
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min(
                F.col("h").bitwiseXOR(F.lit(perm_constant(p)).cast("long"))
            ).alias(f"m{p}")
            for p in range(perms)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{p}") for p in range(perms)]).alias("signature")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, *, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """Banded LSH: slice each signature into ``bands`` equal bands, bucket on
    (band_idx, band_hash), emit distinct candidate pairs sharing a bucket.

    The band bucket join is an equi-join on the band key — the only shuffle;
    bucket sizes are data-dependent but the frequency cut upstream and AQE
    skew splitting bound the worst case.
    """
    rows_per_band = (F.size(F.col("signature")) / bands).cast("int")
    bandified = signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: md5_long(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    a = bandified.alias("a")
    b = bandified.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedupe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup detection, candidates confirmed by exact Jaccard.

    Output (doc_a, doc_b, n_inter, n_union, jaccard): LSH candidate pairs
    whose exact shingle Jaccard ≥ threshold. False positives are removed by
    the exact check; false negatives are the (tunable) LSH recall loss —
    see the DEFAULT_BANDS note for the r=8 operating point.
    """
    sigs = minhash_signatures(df, id_col, text_col, k=k, perms=perms)
    cand = lsh_candidate_pairs(sigs, bands=bands)
    sh = _shingled(df, id_col, text_col, k)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = (
        cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
    )
    return _finish_pairs(joined, threshold)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 32,
) -> DataFrame:
    """Connected components over undirected pair edges → (doc_id, cluster_id),
    cluster_id = the minimum doc id reachable from doc_id (a canonical,
    deterministic representative). Alternating **large-star / small-star**
    edge contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — the GraphFrames algorithm): each round rewires
    every node's strictly-larger neighbors (large-star), then its
    smaller-or-equal ones (small-star), onto the minimum of its closed
    neighborhood. The edge set monotonically contracts toward a star
    forest rooted at each component's minimum id; convergence is
    O(log² n) rounds worst case and 3–6 rounds on real near-dup graphs —
    crucially INDEPENDENT of component diameter. (The previous
    min-label-propagation walked one edge-hop per round: a diameter-31
    phash-chain graph took 31 rounds of pure fixed cost; this takes 4.)
    If the loop has not converged after max_iters it raises loudly rather
    than return silently wrong clusters.

    Scale notes: each half-round is one groupBy(min) + one equi-join +
    distinct — O(E) shuffled, AQE-skew-safe, and the edge count SHRINKS
    every round (toward one edge per non-root node), so late rounds are
    nearly free; there is no O(n²) stage and no driver-side state beyond
    the convergence fingerprint. Both half-rounds run in ONE job per
    round: the only materialization is the round-end ``truncate_plan``
    checkpoint (iterative self-joins otherwise grow the logical plan
    per round, and inherited size estimates compound until plan-time
    stats estimation throws — see session.truncate_plan). The convergence
    fingerprint (edge count + bit_xor of per-edge hashes, order- and
    partitioning-invariant) rides that checkpoint as an observed metric,
    so no extra action per round. Nodes in no pair (the vast majority of
    a corpus) never enter the frame — join the result back LEFT to keep
    singletons."""
    fwd = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = truncate_plan(fwd.filter(F.col("u") != F.col("v")).distinct())
    n_edges = edges.count()  # cheap: counts the materialized checkpoint
    if n_edges == 0:
        return edges.select(
            F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
        )
    # Tiny-graph fast path: at ≤1M edges the edge list is ≤ ~16 MB — the
    # same order as an AQE broadcast threshold — and a driver union-find
    # beats ANY distributed formulation: each star-contraction round is
    # ~10 stages of pure scheduling latency (measured 2-4s/round on a
    # 19k-edge graph, >8s total), vs ~2.5s wall for a 950k-edge chain on 4
    # vCPUs (~1s of it the union-find, the rest the Arrow collect and the
    # labels frame; a 19k-edge graph is well under 0.1s). The collect is
    # BOUNDED by the measured edge count, not hoped-for smallness; above
    # the bound the operator stays fully distributed, so the 10^9-edge
    # regime never touches the driver.
    if n_edges <= 1_000_000:
        out = _cc_driver_union_find(edges)
        # the labels frame is a local relation built from the collected
        # edges — the edge checkpoint is not in its plan, so it must be
        # freed HERE or its blocks linger until the nondeterministic
        # ContextCleaner GC (observed as a flaky storage-leak assert in
        # the pair stream: the collect inside is the checkpoint's last
        # reader)
        release_frame(edges)
        return out
    # Mid-size fast path: below ~5M edges every round is pure fixed
    # cost, and the session's global parallelism-first AQE coalescing
    # keeps each tiny shuffle at defaultParallelism tasks — ~6 shuffles x
    # 32 near-empty tasks per round dominate wall time. Flipping to
    # size-based coalescing for the loop's materialization points
    # collapses those stages to a handful of tasks. Big graphs keep the
    # global setting: compressed shuffle sizes under-estimate row volume,
    # and under-partitioning a 10^9-edge round would idle the cluster
    # (the reason parallelism-first is the global default — session.py).
    small_graph = n_edges < 5_000_000
    confs_scope = (
        scoped_confs(edges.sparkSession, SMALL_STAGE_CONFS)
        if small_graph
        else _contextlib.nullcontext()
    )
    with confs_scope:
        return _cc_loop(edges, max_iters)


def _cc_driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact min-reachable components for a BOUNDED edge list (≤1M edges,
    enforced by the caller's measured count): collect, union-find with
    path compression keyed on the minimum member, return (doc_id,
    cluster_id) for every node that appears in an edge — row-for-row the
    same output as the distributed star-contraction loop (both are pinned
    against the recursive-CTE oracles)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    # the two edge columns come back through Arrow: a Row object per edge
    # costs more driver time than the union-find itself
    e = edges.toPandas()
    for u, v in zip(e["u"].tolist(), e["v"].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo  # union by min ⇒ every root is its set's min
    nodes = sorted(parent.keys() | {find(n) for n in parent})
    out_schema = StructType(
        [
            StructField("doc_id", edges.schema[0].dataType, False),
            StructField("cluster_id", edges.schema[1].dataType, False),
        ]
    )
    # a pandas frame goes through Arrow into a LocalRelation: a sized
    # LocalTableScan the planner can broadcast (a list of tuples becomes an
    # unsized ExistingRDD scan, planned as shuffled sort-merge joins)
    labels = pd.DataFrame({"doc_id": nodes, "cluster_id": [find(n) for n in nodes]})
    return edges.sparkSession.createDataFrame(labels, schema=out_schema)


def _cc_loop(edges, max_iters):
    prev_ckpt = edges
    fp_prev: tuple | None = None
    for it_n in range(max_iters):
        # -- large-star: for each u, m = min(Γ⁺(u)); every neighbor v > u
        # re-points to m. Operates on the symmetric view (u sees both
        # directions); union+projection, no shuffle of its own.
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(ls_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient every edge toward its larger endpoint, then
        # each u re-points its smaller neighbors (and itself) to
        # m = min of those neighbors.
        oriented = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        ss_min = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        joined = oriented.join(ss_min, "u")
        small = (
            joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(joined.select(F.col("u"), F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        obs = Observation(f"cc_fp_{it_n}")
        new_edges = truncate_plan(
            small.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            )
        )
        fp = (obs.get["n"], obs.get["x"])
        # the new checkpoint is materialized; the previous round's blocks
        # are now dead — free them eagerly (context-cleaner GC is
        # nondeterministic, and an iterative operator otherwise holds
        # O(iters) edge frames at peak)
        release_frame(prev_ckpt)
        prev_ckpt = new_edges
        edges = new_edges
        if fp == fp_prev:
            break
        fp_prev = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    # Converged star forest: every non-root appears exactly once as u with
    # its root as v; roots appear only as v. min() is defensive (it is a
    # no-op on a true star forest) and keeps the output deterministic.
    children = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    roots = (
        edges.select(F.col("v").alias("u"))
        .distinct()
        .join(children.select("u"), "u", "left_anti")
        .select("u", F.col("u").alias("cluster_id"))
    )
    return children.union(roots).select(
        F.col("u").alias("doc_id"), "cluster_id"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup cluster assignment: MinHash-LSH pairs (exact-Jaccard
    confirmed) → transitive closure → one (doc_id, cluster_id) row per doc
    that has at least one near-duplicate; cluster_id = min doc id in the
    component. This is the operator that actually PRUNES a corpus: keep
    rows where doc_id == cluster_id (the representative) plus all
    unclustered docs."""
    pairs = minhash_dedupe(
        df, id_col, text_col, k=k, perms=perms, bands=bands, threshold=threshold
    )
    return connected_components(pairs.select("doc_a", "doc_b"))


def dedup_prune(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """The actual corpus prune: drop every near-duplicate that is not its
    cluster's representative (min doc id). Output one row per SURVIVING
    document: (doc_id, kept_as ∈ {representative, unique}) — apply as a
    left-semi join against the corpus to materialize the pruned set.
    Linear dataflow: cluster assignment (see ``dedup_clusters``) + two
    anti/semi joins on doc_id."""
    # no persist needed: dedup_clusters' result lineage ends at an eager
    # localCheckpoint, so both consumers below read materialized blocks
    clusters = dedup_clusters(
        df, id_col, text_col, k=k, perms=perms, bands=bands, threshold=threshold
    )
    return keep_survivors(
        df.select(F.col(id_col).cast("long").alias("doc_id")), clusters, "doc_id"
    )


def keep_survivors(ids: DataFrame, clusters: DataFrame, id_col: str) -> DataFrame:
    """The survivor rule of every near-dup prune: drop the rows of ``ids``
    whose id is clustered but not its cluster's representative, and add
    ``kept_as`` ∈ {representative, unique}. ``clusters`` is (id_col,
    cluster_id); payload columns of ``ids`` pass through."""
    dupes = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    reps = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(
        id_col, F.lit(True).alias("__rep")
    )
    return (
        ids.join(dupes, id_col, "left_anti")
        .join(reps, id_col, "left")
        .select(
            *ids.columns,
            F.when(F.col("__rep"), F.lit("representative"))
            .otherwise(F.lit("unique"))
            .alias("kept_as"),
        )
    )


# test instrumentation: index builds this process (the split's contract is
# that repeated probes do NOT re-run the shingling pipeline)
INDEX_BUILDS = 0


class NearDupIndex:
    """Build/probe split for the near-dup suite (the IVF pattern applied to
    text dedup): at 100 TB nobody recomputes shingles → signatures → LSH →
    exact-confirm → components per query — the **confirmed pair list and the
    component assignment ARE the index**, materialized once per corpus
    snapshot and reused by every consumer (cluster lookup, corpus prune,
    curation, audit queries).

    - ``load_or_build``: run ``minhash_dedupe`` + ``connected_components``
      and commit both results to the SnapshotTables under ``root`` unless
      both are current for these params (``sources.lake.load_or_build``);
      the whole pipeline is deterministic (md5-derived permutation family,
      integer thresholds), so loaded == rebuilt bit-for-bit and correctness
      oracles are unchanged.
    - probes: ``pairs()``, ``clusters()``, ``prune(corpus)`` — table scans
      plus at most two doc_id joins; no shingling anywhere.
    """

    PAIRS = "doc_a long, doc_b long, n_inter long, n_union long, jaccard double"
    CLUSTERS = "doc_id long, cluster_id long"

    def __init__(self, spark, root: str):
        import os

        from ..sources.lake import SnapshotTable

        self.spark = spark
        self.pairs_t = SnapshotTable(os.path.join(root, "pairs"))
        self.clusters_t = SnapshotTable(os.path.join(root, "clusters"))

    @classmethod
    def load_or_build(
        cls,
        corpus: DataFrame,
        root: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 5,
        perms: int = DEFAULT_PERMS,
        bands: int = DEFAULT_BANDS,
        threshold: float = 0.8,
    ) -> "NearDupIndex":
        from ..sources.lake import load_or_build

        idx = cls(corpus.sparkSession, root)

        def build(meta: dict) -> None:
            global INDEX_BUILDS
            INDEX_BUILDS += 1
            pairs = minhash_dedupe(
                corpus, id_col, text_col, k=k, perms=perms, bands=bands,
                threshold=threshold,
            ).localCheckpoint(eager=True)  # consumed twice: commit + components
            idx.pairs_t.overwrite(pairs, meta=meta)
            idx.clusters_t.overwrite(
                connected_components(pairs.select("doc_a", "doc_b")), meta=meta
            )

        params = {
            "id_col": id_col, "text_col": text_col, "k": k,
            "perms": perms, "bands": bands,
            "threshold_bp": int(round(threshold * 10000)),
        }
        load_or_build([idx.pairs_t, idx.clusters_t], params, build)
        return idx

    # -- probes ------------------------------------------------------------

    def pairs(self) -> DataFrame:
        from pyspark.sql.types import _parse_datatype_string

        return self.pairs_t.read(
            self.spark, schema=_parse_datatype_string(self.PAIRS)
        )

    def clusters(self) -> DataFrame:
        from pyspark.sql.types import _parse_datatype_string

        return self.clusters_t.read(
            self.spark, schema=_parse_datatype_string(self.CLUSTERS)
        )

    def prune(self, corpus: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """``dedup_prune`` against the prebuilt components — two doc_id
        joins, zero shingling. Output (doc_id, kept_as) as in dedup_prune."""
        return keep_survivors(
            corpus.select(F.col(id_col).cast("long").alias("doc_id")),
            self.clusters(),
            "doc_id",
        )


def winnow_table(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 8, w: int = 4
) -> DataFrame:
    """(doc_id, fingerprint): distinct winnowing fingerprints per document
    (Schleimer et al., SIGMOD'03) via explode + frame-window minima.

    Each k-gram position becomes a row hashed exactly once; the w-window
    minimum is a ROWS BETWEEN CURRENT AND w−1 frame over position — one
    shuffle on doc_id, linear work, no per-window array slicing. Same
    values as functions.text.winnow_fingerprints (the array-expression
    form, kept for composition inside a single projection).
    """
    n = F.length(F.col(text_col))
    # guard: sequence(1, 0) counts DOWN in Spark — docs shorter than k must
    # produce an empty position list, not [1, 0]
    positions = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__t"),
        F.explode(positions).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        md5_long(F.substring(F.col("__t"), F.col("pos"), F.lit(k))).alias("h"),
    )
    wspec = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    wall = Window.partitionBy("doc_id")
    return (
        ex.withColumn("win_min", F.min("h").over(wspec))
        .withColumn("n_h", F.max("pos").over(wall))
        .filter(F.col("pos") <= F.greatest(F.col("n_h") - w + 1, F.lit(1)))
        .select("doc_id", F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, sh): SimHash per document via explode + one aggregation pass.

    Explodes distinct k-gram hashes and computes all ``bits`` ±1 counters in
    a single groupBy (map-side partial aggregation; one shuffle on doc_id) —
    the shape that holds at corpus scale, unlike a per-row expression that
    re-walks the shingle array per bit.
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_hashes(F.col(text_col), k)).alias("h"),
    )
    sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sh = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = bit if sh is None else sh + bit
    return sums.select("doc_id", sh.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ max_hamming,
    found by the shared pigeonhole join (``banded_pairs``) over the
    ``bits``-bit simhash; bands = max_hamming+1 gives exact recall.
    Output (doc_a, doc_b, hamming).
    """
    _check_bands(bits, max_hamming, bands)
    # Both sides of the band self-join re-execute their lineage (the build
    # side's BroadcastExchange is never a ReusedExchange of the probe side),
    # so without a cut the shingle-explode + 60-counter aggregation — the
    # expensive stage — runs twice over the full corpus. The hash table is
    # 16 bytes/row, the cheapest possible materialization point.
    sh = simhash_table(df, id_col, text_col, bits=bits).localCheckpoint(eager=True)
    return banded_pairs(
        sh, "doc_id", "sh", "doc_a", "doc_b",
        bits=bits, max_hamming=max_hamming, bands=bands,
    )


def _check_bands(bits: int, max_hamming: int, bands: int) -> None:
    """The band join's parameter rule for every hash width: the bands tile
    the hash, and outnumber the allowed differing bits, so a pair within
    ``max_hamming`` shares ≥1 band (pigeonhole: exact recall)."""
    if bands < 1 or bits % bands or bands <= max_hamming:
        raise ValueError(
            f"bands must divide {bits} and exceed max_hamming, "
            f"got bands={bands}, max_hamming={max_hamming}"
        )


def _band_explode(
    df: DataFrame, id_col: str, hash_col: str, *, bits: int, bands: int
) -> DataFrame:
    """(id, hash, band_idx, band_val): one row per band of the ``bits``-bit
    hash — the key of both the self-join (``banded_pairs``) and the
    probe-vs-index join (``multimodal.banded_matches``), so the batch and
    streaming near-dup paths compute identical keys. The UNSIGNED shift
    because phash is a signed long: an arithmetic shift would smear the
    sign bit across the high band (60-bit simhashes shift the same)."""
    chunk = bits // bands
    # bands=1 over 64 bits (exact phash match) needs the full-width mask:
    # (1<<64)-1 overflows LongType, but -1 is the same bit pattern
    mask = (1 << chunk) - 1 if chunk < 64 else -1
    return df.select(
        id_col,
        hash_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), b * chunk).bitwiseAND(
                        F.lit(mask).cast("long")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def banded_pairs(
    hashes: DataFrame, id_col: str, hash_col: str, a_col: str, b_col: str,
    *, bits: int, max_hamming: int, bands: int,
) -> DataFrame:
    """The one banded Hamming self-join over a non-null (id, hash) frame:
    any pair within hamming ≤ bands−1 agrees exactly on ≥1 of the ``bands``
    chunks, so one equi-join on (band_idx, band_val) finds every pair
    within ``max_hamming`` — no all-pairs stage. Output (a_col, b_col,
    hamming), a < b."""
    _check_bands(bits, max_hamming, bands)
    bandified = _band_explode(hashes, id_col, hash_col, bits=bits, bands=bands)
    a, b = bandified.alias("a"), bandified.alias("b")
    xor = F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(a_col),
            F.col(f"b.{id_col}").alias(b_col),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_clusters(
    hashes: DataFrame, id_col: str, hash_col: str,
    *, bits: int, max_hamming: int, bands: int,
) -> DataFrame:
    """The near-dup cluster step: ``banded_pairs`` →
    ``connected_components`` → (id_col, cluster_id = component min id) for
    every id with ≥1 near-duplicate."""
    pairs = banded_pairs(
        hashes, id_col, hash_col, "id_a", "id_b",
        bits=bits, max_hamming=max_hamming, bands=bands,
    )
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    corpus_id: str = "doc_id",
    bench_id: str = "bench_id",
    corpus_text: str = "text",
    bench_text: str = "text",
    k: int = 8,
    min_frac_bp: int = 5000,
) -> DataFrame:
    """Eval-set decontamination: which corpus documents contain which
    benchmark documents' content, measured as the fraction of the BENCHMARK
    doc's distinct character k-gram shingles that appear in the corpus doc.

    The canonical pre-training hygiene pass: before a corpus ships, every
    eval/benchmark prompt is checked for verbatim-ish leakage into the
    training set (the GPT-3 appendix-C / Gopher §A.5 n-gram overlap method,
    direction-sensitive: a 100-shingle benchmark prompt fully contained in
    a 10^6-shingle document IS contamination, so the denominator is the
    benchmark side, never a symmetric Jaccard).

    Shape at 100 TB: the benchmark side is small by construction (eval sets
    are thousands of prompts, not billions), so its exploded shingle table
    broadcasts; the corpus side explodes shingles ONCE and equi-joins the
    broadcast — corpus rows sharing no shingle with any benchmark never
    leave their scan partition, and the only shuffle is the per-(corpus,
    bench) pair count. Threshold is integer-exact in basis points:
    keep iff n_hits · 10⁴ ≥ min_frac_bp · n_bench.

    Output: (corpus_id, bench_id, n_hits, n_bench) — all exact ints so the
    SQL oracle can replay the decision with zero float drift.
    """
    # join on RAW shingle strings, not md5_long hashes: hashing 10^6+
    # corpus shingles runs inside an interpreted higher-order lambda (HOFs
    # don't codegen) and buys nothing here — the join is against a
    # broadcast, counts are the only output, and the SQL oracle joins on
    # raw grams too. (The minhash/Jaccard operators keep hashes: their
    # permutation family and shuffle keys need ints.)
    from ..functions.text import char_shingles

    c_ex = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.explode(char_shingles(F.col(corpus_text), k)).alias("h"),
    )
    b_ex = benchmark.select(
        F.col(bench_id).alias("__bid"),
        char_shingles(F.col(bench_text), k).alias("shingles"),
    ).select(
        "__bid",
        F.size("shingles").alias("n_bench"),
        F.explode("shingles").alias("h"),
    )
    hits = (
        c_ex.join(F.broadcast(b_ex), "h")
        .groupBy("__cid", "__bid", "n_bench")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        hits.filter(
            F.col("n_hits") * 10000 >= F.lit(int(min_frac_bp)) * F.col("n_bench")
        )
        .select(
            F.col("__cid").alias(corpus_id),
            F.col("__bid").alias(bench_id),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_bench").cast("long").alias("n_bench"),
        )
    )


def line_dedupe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_docs: int = 2,
) -> DataFrame:
    """Global line-level dedup (the C4 §2.1 / RefinedWeb line-wise filter):
    a non-blank line whose trimmed form appears in >= ``min_docs`` DISTINCT
    documents is boilerplate (navigation chrome, cookie banners, repeated
    footers) and is removed from EVERY document; surviving lines are
    reassembled in their original order.

    This is the document-content counterpart of the reference's URL dedupe
    (SURVEY §2.5 D1 — first-occurrence-wins over URLs): here the unit is
    the line and the scope is the whole corpus, the step every large-scale
    text pipeline runs between exact dedup and near-dup pruning.

    Shape at 100 TB: two shuffles — a countDistinct groupBy on the trimmed
    line to find boilerplate (by definition a small output: only lines
    repeated across documents survive the HAVING, so the anti-join's build
    side is compact and AQE broadcasts it), and one groupBy(doc) to
    reassemble. Linear in total line count; no all-pairs stage. Document
    reassembly is order-exact via posexplode + array_sort on (pos, line).

    Output: (doc_id, clean_text, n_kept, n_removed) — counts exact ints so
    the SQL oracle replays the decision with zero drift.
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        # \r?\n: CRLF documents must not leave a \r on every line — the
        # boiler keys would never match their LF twins and a blank CRLF
        # line would survive as "\r" (trim strips only the space char).
        # Bare-CR (pre-OSX Mac) endings are out of scope, matching the
        # SQL twin's identical pattern.
        F.posexplode(F.split(F.col(text_col), r"\r?\n")).alias("pos", "line"),
    )
    boiler = (
        lines.filter(F.trim("line") != "")
        .groupBy(F.trim("line").alias("k"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("k")
    )
    kept = lines.join(boiler, F.trim(lines["line"]) == boiler["k"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    # Per-doc line totals come straight off the un-exploded text — a
    # shuffle-free narrow projection (split of a non-null string always
    # yields >= 1 element, exactly matching the posexplode row count),
    # instead of a third groupBy over the exploded lines. NULL text must
    # count as 0 lines explicitly: size(split(NULL)) is -1/NULL depending
    # on the engine's sizeOfNull setting, and posexplode emits no rows for
    # it, so anything but 0 breaks n_kept + n_removed == n_total.
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(F.split(F.col(text_col), r"\r?\n")))
        .alias("n_total"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §3.1 ExactSubstr): report,
    per document, every maximal token span whose k-token windows ALL appear
    verbatim in >= ``min_docs`` DISTINCT documents — the tokens the paper's
    policy cuts.

    The paper builds a suffix array over the whole corpus; the
    shuffle-native equivalent is the k-token sliding-window inverted
    index: a substring of length >= k that duplicates across documents has
    every one of its k-token windows duplicated, so duplicated windows are
    found with ONE groupBy over window keys and maximal spans are
    reassembled per document by merging adjacent duplicated windows
    (islands-and-gaps on the window start positions).

    Precision caveat (the converse direction): adjacent windows may
    duplicate against DIFFERENT partner documents, so a merged span need
    not itself appear verbatim in any single other document — e.g. window
    at pos 5 shared only with doc A and pos 6 only with doc B merge into
    one span that neither contains. Cutting the span is still sound (every
    token sits inside some cross-doc duplicated window, the paper's removal
    unit); treat the span as "run of duplicated windows", not "verbatim
    cross-doc substring", when consuming it for reporting.

    Shape at 100 TB: explode to ~tokens-per-doc windows per document
    (linear), one groupBy on the window key (the only corpus-wide
    shuffle), a semi-join back, and a per-doc window (partitioned by
    doc — bounded by document length, no skew beyond the longest doc).
    Window keys are ``md5_long`` of the space-joined window so the
    DuckDB oracle replays them bit-for-bit (production would swap in
    xxhash64 — same plan, cheaper hash; a 60-bit key space needs ~2^30
    windows for a birthday collision, disclosed here).

    Output: (doc_id, start_tok, end_tok, n_windows) — 1-based inclusive
    token positions of each maximal duplicated span.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = F.when(
        F.length(F.trim(F.col(text_col))) > 0,
        F.split(F.trim(F.col(text_col)), r"\s+"),
    ).otherwise(F.array().cast("array<string>"))
    # tokenize ONCE via posexplode, then assemble each k-token window with
    # a rows-between frame. The tempting transform(sequence, i ->
    # slice(split(...), i, k)) form is a project-collapse trap: Catalyst
    # inlines the split into the lambda and re-runs the regex split once
    # PER WINDOW (~tokens× blowup — measured 7.2s -> 2.5s at sf0.1).
    # Cost here: one (doc_id, pos) sort-shuffle, linear in token count.
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos0", "w"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, k - 1)
    )
    warr = F.collect_list("w").over(frame)
    wins = (
        tok.select(
            "doc_id",
            # posexplode is 0-based; spans are reported in 1-based token
            # positions (start_tok of the first window == token 1)
            (F.col("pos0") + 1).alias("pos"),
            warr.alias("warr"),
        )
        .filter(F.size("warr") == k)  # frames short of k near the doc end
        .select("doc_id", "pos", md5_long(F.array_join("warr", " ")).alias("whash"))
    )
    dup_keys = (
        wins.groupBy("whash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("whash")
    )
    dup = wins.join(dup_keys, "whash", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("start_tok"),
        (F.max("pos") + k - 1).cast("long").alias("end_tok"),
        F.count("*").cast("long").alias("n_windows"),
    ).drop("island")
