"""Similarity-search tests: exact vs numpy fast path, LSH bucket
determinism and candidate semantics, near-dup containment."""

from __future__ import annotations

import math

from web_crawler_spark.operators import similarity as S


def _vecs(spark, n=40, dim=64):
    rows = []
    for i in range(n):
        # deterministic pseudo-random-ish vectors with some correlated pairs
        v = [math.sin(0.1 * (i + 1) * (j + 1)) for j in range(dim)]
        rows.append((i, v))
    # planted near-duplicate of vec 0
    rows.append((n, [x * 1.001 for x in rows[0][1]]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_bruteforce_topk_self_excluded_and_ranked(spark):
    df = _vecs(spark)
    rows = S.cosine_topk(df, k=3, n_queries=5).collect()
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
    # the planted near-dup is vec 0's top neighbor
    assert by_q[0][0]["neighbor_id"] == 40


def test_numpy_path_equals_builtin_path(spark):
    df = _vecs(spark)
    a = sorted(map(tuple, S.cosine_topk(df, k=3, n_queries=8).collect()))
    b = sorted(map(tuple, S.cosine_topk_numpy(df, k=3, n_queries=8).collect()))
    assert a == b


def test_numpy_path_breaks_boundary_ties_by_neighbor_id(spark):
    """ADVICE r1 #2: when >k candidates in one Arrow batch tie at the k-th
    cosine, the partial top-k must keep the neighbor_id-asc winners — an
    unordered argpartition cut can drop them and diverge from cosine_topk."""
    base = [1.0] * 64
    # 8 exact copies of the query vector (all cosine == 1.0) + the query
    rows = [(0, base)] + [(i, list(base)) for i in range(1, 9)]
    # one orthogonal-ish distractor
    rows.append((9, [1.0 if j % 2 == 0 else -1.0 for j in range(64)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)
    a = sorted(map(tuple, S.cosine_topk(df, k=3, n_queries=1).collect()))
    b = sorted(map(tuple, S.cosine_topk_numpy(df, k=3, n_queries=1).collect()))
    assert a == b
    assert [r[1] for r in sorted(b, key=lambda r: r[2])] == [1, 2, 3]


def test_lsh_assign_deterministic_and_bounded(spark):
    df = _vecs(spark)
    a = {r["vec_id_b"]: r["bucket"] for r in S.lsh_assign(df, planes=8).collect()}
    b = {r["vec_id_b"]: r["bucket"] for r in S.lsh_assign(df, planes=8).collect()}
    assert a == b
    assert all(0 <= v < 256 for v in a.values())
    # near-identical vectors land in the same bucket
    assert a[0] == a[40]


def test_ann_results_subset_of_bruteforce_candidates(spark):
    """Every ANN hit must be a same-bucket pair with the exact cosine the
    brute-force path computes for it."""
    df = _vecs(spark)
    buckets = {r["vec_id_b"]: r["bucket"] for r in S.lsh_assign(df, planes=6).collect()}
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.cosine_topk(df, k=40, n_queries=10).collect()
    }
    ann = S.ann_lsh_topk(df, k=3, planes=6, n_queries=10).collect()
    for r in ann:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_neardup_pairs_threshold(spark):
    df = _vecs(spark)
    rows = S.neardup_pairs(df, threshold=0.99, planes=4).collect()
    assert any((r["id_a"], r["id_b"]) == (0, 40) for r in rows)
    for r in rows:
        assert r["cosine"] >= 0.99


def test_neardup_clusters_assigns_min_representative(spark):
    """Embedding near-dup clustering: every pair shares a cluster, the
    representative is the member minimum."""
    df = _vecs(spark)
    pairs = {(r["id_a"], r["id_b"]) for r in S.neardup_pairs(df, threshold=0.99, planes=4).collect()}
    assert (0, 40) in pairs
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in S.neardup_clusters(df, threshold=0.99, planes=4).collect()
    }
    for a, b in pairs:
        assert clusters[a] == clusters[b]
        assert clusters[a] <= min(a, b)
    assert clusters[0] == 0 and clusters[40] == 0


def test_zero_vector_yields_null_not_error(spark):
    """ANSI mode: a zero-norm vector must become NULL cosine rows filtered
    out of results, never a DIVIDE_BY_ZERO exception."""
    rows = [(0, [0.0] * 64), (1, [1.0] * 64), (2, [0.5] * 64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.cosine_topk(df, k=2, n_queries=3).collect()
    assert all(r["query_id"] != 0 for r in out)
    assert all(r["neighbor_id"] != 0 for r in out)
    got = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in out}
    assert got[(1, 2)] == 1.0 and got[(2, 1)] == 1.0


def test_plane_signs_are_md5_parity(spark):
    import hashlib

    for p in range(3):
        for d in range(5):
            expected = 1 if int(hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1
            assert S.plane_sign(p, d) == expected


def test_kmeans_centroids_deterministic_and_improve_recall(spark):
    """VERDICT r1 #5: centroids come from seeded Lloyd iterations (bit-exact
    across calls); recall@k with trained centroids must be at least the
    first-n-seeding recall and clear an absolute floor."""
    df = _vecs(spark)
    c1 = S.kmeans_centroids(df, n_cells=4, iters=2)
    c2 = S.kmeans_centroids(df, n_cells=4, iters=2)
    assert c1 == c2  # no RNG anywhere
    c0 = S.kmeans_centroids(df, n_cells=4, iters=0)
    assert [c for c, _ in c1] == [c for c, _ in c0]  # cells stable
    assert c1 != c0  # training actually moved the centroids

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(df, k=3, n_queries=10).collect()
    }

    def recall(iters):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ann_ivf_topk(
                df, k=3, n_cells=4, nprobe=2, n_queries=10, kmeans_iters=iters
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_trained, r_seeded = recall(2), recall(0)
    assert r_trained >= r_seeded
    assert r_trained >= 0.5


def test_ivf_index_build_probe_split_reuses_training(spark, tmp_path):
    """VERDICT r2 #1 done-criteria: two successive queries through the index
    run ONE training pass; a saved index reloads without retraining and
    probes bit-identically; mismatched build params force a rebuild."""
    df = _vecs(spark)
    root = str(tmp_path / "ivf")

    before = S.TRAIN_RUNS
    idx = S.IvfIndex.load_or_build(df, root, n_cells=4, kmeans_iters=2)
    r1 = sorted(map(tuple, idx.topk(k=3, nprobe=2, n_queries=8).collect()))
    r2 = sorted(map(tuple, idx.topk(k=3, nprobe=2, n_queries=8).collect()))
    assert S.TRAIN_RUNS == before + 1  # built once, probed twice
    assert r1 == r2

    # reload (fresh handle, e.g. next session): no retraining, same results
    idx2 = S.IvfIndex.load_or_build(df, root, n_cells=4, kmeans_iters=2)
    r3 = sorted(map(tuple, idx2.topk(k=3, nprobe=2, n_queries=8).collect()))
    assert S.TRAIN_RUNS == before + 1  # loaded, not rebuilt
    assert idx2.centroids == idx.centroids
    assert r3 == r1

    # loaded index == the legacy train-in-call path (oracle unchanged)
    legacy = sorted(
        map(
            tuple,
            S.ann_ivf_topk(
                df, k=3, n_cells=4, nprobe=2, n_queries=8, kmeans_iters=2
            ).collect(),
        )
    )
    assert legacy == r1
    assert S.TRAIN_RUNS == before + 2  # the legacy path trains its own

    # different params must not reuse the stored centroids: they retrain
    # once, and the retrained index is then loaded, not rebuilt
    idx3 = S.IvfIndex.load_or_build(df, root, n_cells=4, kmeans_iters=1)
    assert S.TRAIN_RUNS == before + 3
    idx4 = S.IvfIndex.load_or_build(df, root, n_cells=4, kmeans_iters=1)
    assert S.TRAIN_RUNS == before + 3
    assert idx4.centroids == idx3.centroids
    for i in (idx, idx2, idx3, idx4):
        i.unpersist()


def test_ivf_results_are_exact_within_probed_cells(spark):
    """Every IVF hit must carry the same cosine the brute-force path
    computes, and cell assignment must be deterministic."""
    df = _vecs(spark)
    a1 = {r["vec_id_b"]: r["cell"] for r in S.ivf_assign(df, n_cells=4).collect()}
    a2 = {r["vec_id_b"]: r["cell"] for r in S.ivf_assign(df, n_cells=4).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(4))
    # the near-identical pair shares a cell
    assert a1[0] == a1[40]
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.cosine_topk(df, k=41, n_queries=8).collect()
    }
    ivf = S.ann_ivf_topk(df, k=3, n_cells=4, nprobe=2, n_queries=8).collect()
    assert ivf
    for r in ivf:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
        assert 1 <= r["rank"] <= 3


def test_numpy_path_handles_null_embeddings(spark):
    """A NULL embedding row must not crash the numpy fast path (np.array
    over a list containing None raises inside the worker); both paths drop
    it and stay equal — the documented same-output contract."""
    rows = [(r["vec_id"], r["embedding"]) for r in _vecs(spark).collect()]
    rows.append((99, None))
    rows.append((1000, None))  # NULL in the query id range too? id>=32, so no
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, S.cosine_topk(df, k=3, n_queries=8).collect()))
    b = sorted(map(tuple, S.cosine_topk_numpy(df, k=3, n_queries=8).collect()))
    assert a == b and a


def test_neardup_threshold_uses_exact_cosine(spark):
    """The τ comparison runs on the EXACT cosine; rounding is display-only.
    A pair whose true cosine rounds UP to τ must not be admitted."""
    import math

    # two 64-dim vectors with cosine just below 0.95 but rounding to 0.95:
    # cos([1,0,...pad], [a,b,...pad]) tuned via the angle
    theta = math.acos(0.94996)
    v1 = [1.0, 0.0] + [0.0] * 62
    v2 = [math.cos(theta), math.sin(theta)] + [0.0] * 62
    df = spark.createDataFrame(
        [(0, v1), (1, v2)], "vec_id long, embedding array<double>"
    )
    got = S.neardup_pairs(df, threshold=0.95, planes=1).collect()
    assert got == [], [tuple(r) for r in got]
    # sanity: lowering τ admits the pair, with the 4dp display rounding
    got2 = S.neardup_pairs(df, threshold=0.9, planes=1).collect()
    assert len(got2) == 1 and abs(got2[0]["cosine"] - 0.95) < 5e-5


def test_lsh_assign_rejects_dim_mismatch(spark):
    """A vector length != dims must fail loudly — zip_with's NULL padding
    would otherwise send EVERY vector to bucket 0 and degrade the bucketed
    join to an undisclosed all-pairs cross join. NULL vectors pass through."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(0, [1.0] * 128)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(SparkRuntimeException, match="64-dim"):
        S.lsh_assign(df, planes=2).collect()
    ok = spark.createDataFrame(
        [(0, [1.0] * 64), (1, None)], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id_b"]: r["bucket"] for r in S.lsh_assign(ok, planes=2).collect()}
    assert set(got) == {0, 1}
