"""Dedup operator tests: exact clusters, Jaccard semantics, MinHash-LSH
recall/precision on crafted near-dups, SimHash pigeonhole exactness, and
the generic skew-safe two-phase top-k."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from web_crawler_spark.operators import textdedup as TD
from web_crawler_spark.operators.politeness import two_phase_topk

BASE = "the quick brown fox jumps over the lazy dog while the band plays on"
NEAR = BASE.replace("lazy", "hazy")  # one-char shingle neighborhood change
OTHER = "completely different material speaking about unrelated things entirely"


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE), (5, "tiny")],
        ["doc_id", "text"],
    )


def test_exact_dupes(spark):
    rows = TD.exact_dupes(_docs(spark), "doc_id", "text").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["rep_id"] == 1 and r["n_copies"] == 2 and r["member_ids"] == [1, 4]


def test_ngram_jaccard_pairs(spark):
    pairs = TD.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", k=5, threshold=0.5
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in pairs}
    # exact duplicate pair has J = 1
    assert got[(1, 4)]["jaccard"] == 1.0
    assert got[(1, 4)]["n_inter"] == got[(1, 4)]["n_union"]
    # near pair passes, unrelated doc absent
    assert (1, 2) in got and (2, 4) in got
    assert not any(3 in p for p in got)


def test_minhash_candidates_confirmed_by_exact(spark):
    d = _docs(spark)
    mh = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in TD.minhash_dedupe(d, "doc_id", "text", threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in TD.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    # no false positives, and counts agree with the exact computation
    for pair, counts in mh.items():
        assert exact[pair] == counts
    # identical docs always collide in every band → always found
    assert (1, 4) in mh


def test_simhash_band_recall_is_exact(spark):
    """Pigeonhole: band candidates at bands=max_hamming+1 find exactly the
    brute-force hamming ≤ k pairs."""
    d = _docs(spark)
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in TD.simhash_pairs(d, "doc_id", "text", max_hamming=8, bands=12).collect()
    }
    sh = {r["doc_id"]: r["sh"] for r in TD.simhash_table(d, "doc_id", "text").collect()}
    brute = {}
    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin(sh[i] ^ sh[j]).count("1")
                if h <= 8:
                    brute[(i, j)] = h
    assert banded == brute
    assert banded[(1, 4)] == 0  # identical docs


def test_two_phase_topk_equals_naive_window(spark):
    df = spark.range(2000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 37 % 1000).alias("v"),
        F.col("id").alias("tie"),
    )
    order = [F.col("v").desc(), F.col("tie").asc()]
    fast = two_phase_topk(df, ["k"], order, 5, F.xxhash64("tie"), 4)
    w = Window.partitionBy("k").orderBy(*order)
    naive = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).drop("rn")
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_max_df_prunes_stop_shingles(spark):
    """A shingle present in every doc is dropped by the frequency cut and no
    longer connects otherwise-dissimilar docs."""
    common = "zzzzz"  # one shared shingle across all docs
    d = spark.createDataFrame(
        [(1, common + " abcdefgh"), (2, common + " ijklmnop"), (3, common + " qrstuvwx")],
        ["doc_id", "text"],
    )
    with_cut = TD.ngram_jaccard_pairs(
        d, "doc_id", "text", k=5, threshold=0.01, max_df=2
    ).collect()
    without = TD.ngram_jaccard_pairs(
        d, "doc_id", "text", k=5, threshold=0.01
    ).collect()
    assert len(without) == 3  # every pair shares the stop shingle
    assert len(with_cut) == 0


def test_connected_components_min_label(spark):
    """Transitive chains collapse to the component-minimum representative;
    disjoint components stay apart; result covers exactly the paired docs."""
    from web_crawler_spark.operators.textdedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11), (20, 21), (21, 20)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_consistent_with_pairs(spark):
    """Every pair's two docs share a cluster id; the representative is the
    cluster minimum and is itself a member; singletons never appear."""
    from web_crawler_spark.operators.textdedup import dedup_clusters, minhash_dedupe

    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = [
        (0, base),
        (1, base + "tail-a"),
        (2, base + "tail-b"),
        (10, "completely different content about spark engines " * 6),
        (11, "completely different content about spark engines " * 6 + "x"),
        (50, "a singleton document with nothing similar to it at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedupe(df, "doc_id", "text").collect()
    }
    assert pairs  # fixture actually produces near-dups
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(df, "doc_id", "text").collect()
    }
    for a, b in pairs:
        assert clusters[a] == clusters[b]
    for doc, rep in clusters.items():
        assert rep in clusters and clusters[rep] == rep
        assert rep <= doc
    assert 50 not in clusters  # singletons never enter the frame


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Randomized (seeded) graphs incl. long chains: the star-contraction
    result must equal a pure-Python union-find, and chains longer than
    max_iters must still converge (contraction rounds are diameter-
    independent, not one edge-hop per round)."""
    import numpy as np

    from web_crawler_spark.operators.textdedup import connected_components

    def union_find(edges):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {d: find(d) for d in parent}

    rng = np.random.RandomState(11)
    cases = []
    for _ in range(3):
        n = 120
        edges = [
            (int(rng.randint(0, n)), int(rng.randint(0, n))) for _ in range(80)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cases.append(edges)
    # adversarial: a 100-node chain (diameter 99 >> default max_iters=32)
    cases.append([(i, i + 1) for i in range(100)])

    for edges in cases:
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {
            r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()
        }
        assert got == union_find(edges)


def test_connected_components_star_contraction_worst_cases(spark):
    """Structural worst cases of the alternating large-star/small-star
    rounds: monotone id-ordered paths (the adversarial input that made
    naive min-contraction O(n) rounds), a star rooted at the max id (must
    re-root at the min), duplicate/self-loop edges, and the empty frame."""
    from web_crawler_spark.operators.textdedup import connected_components

    def run(pairs):
        df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        return {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }

    ids = [f"a{i:02d}" for i in range(64)]
    path = [(ids[i], ids[i + 1]) for i in range(63)]
    assert run(path) == {i: ids[0] for i in ids}
    assert run([(b, a) for a, b in path]) == {i: ids[0] for i in ids}

    star = [("z", f"b{i:02d}") for i in range(20)]
    expect = {f"b{i:02d}": "b00" for i in range(20)}
    expect["z"] = "b00"
    assert run(star) == expect

    assert run([("q", "q"), ("q", "r"), ("r", "q")]) == {"q": "q", "r": "q"}

    empty = spark.createDataFrame([], "doc_a string, doc_b string")
    assert connected_components(empty).collect() == []


def test_neardup_index_build_probe_split(spark, tmp_path):
    """The NearDupIndex materializes pairs+components once; probes (pairs,
    clusters, prune) match the direct operators bit-for-bit; a reload does
    not rebuild; mismatched params force a rebuild, and so does a half-built
    index (pairs current, clusters stale)."""
    d = _docs(spark)
    root = str(tmp_path / "ndi")
    before = TD.INDEX_BUILDS
    idx = TD.NearDupIndex.load_or_build(
        d, root, id_col="doc_id", text_col="text",
        k=5, perms=32, bands=4, threshold=0.5,
    )
    assert TD.INDEX_BUILDS == before + 1

    direct_pairs = sorted(
        map(
            tuple,
            TD.minhash_dedupe(
                d, "doc_id", "text", k=5, perms=32, bands=4, threshold=0.5
            ).collect(),
        )
    )
    assert sorted(map(tuple, idx.pairs().collect())) == direct_pairs
    direct_clusters = sorted(
        map(
            tuple,
            TD.dedup_clusters(
                d, "doc_id", "text", k=5, perms=32, bands=4, threshold=0.5
            ).collect(),
        )
    )
    assert sorted(map(tuple, idx.clusters().collect())) == direct_clusters
    direct_prune = sorted(
        map(
            tuple,
            TD.dedup_prune(
                d, "doc_id", "text", k=5, perms=32, bands=4, threshold=0.5
            ).collect(),
        )
    )
    assert sorted(map(tuple, idx.prune(d, "doc_id").collect())) == direct_prune

    # reload: no rebuild, identical probes
    idx2 = TD.NearDupIndex.load_or_build(
        d, root, id_col="doc_id", text_col="text",
        k=5, perms=32, bands=4, threshold=0.5,
    )
    assert TD.INDEX_BUILDS == before + 1
    assert sorted(map(tuple, idx2.pairs().collect())) == direct_pairs

    # different threshold → params mismatch → rebuild
    TD.NearDupIndex.load_or_build(
        d, root, id_col="doc_id", text_col="text",
        k=5, perms=32, bands=4, threshold=0.8,
    )
    assert TD.INDEX_BUILDS == before + 2

    # half-built (a crash between the two commits): pairs current for 0.5,
    # clusters still at 0.8 → one rebuild of both, then a plain load
    idx2.pairs_t.rollback(idx2.pairs_t.current_snapshot_id() - 1)
    for _ in range(2):
        idx3 = TD.NearDupIndex.load_or_build(
            d, root, id_col="doc_id", text_col="text",
            k=5, perms=32, bands=4, threshold=0.5,
        )
        assert TD.INDEX_BUILDS == before + 3
    assert sorted(map(tuple, idx3.clusters().collect())) == direct_clusters


def test_contamination_check_direction_and_threshold(spark):
    """The denominator is the BENCHMARK side: a short prompt embedded in a
    long doc is flagged even though symmetric Jaccard would be tiny; a
    prompt sharing nothing is not; the threshold is exact in basis points."""
    prompt = "the quick brown fox jumps over the lazy dog"
    long_doc = ("x" * 500) + prompt + ("y" * 500)
    corpus = spark.createDataFrame(
        [
            (1, long_doc),  # contains the prompt verbatim
            (2, "completely unrelated material about spark partitions " * 4),
            (3, prompt[: len(prompt) // 2] + " zebra " * 20),  # half the prompt
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, prompt)], "bench_id long, text string")

    hits = TD.contamination_check(corpus, bench, k=8, min_frac_bp=8000).collect()
    assert [(r.doc_id, r.bench_id) for r in hits] == [(1, 100)]
    full = {r.doc_id: r for r in hits}
    assert full[1].n_hits == full[1].n_bench  # verbatim: every shingle found

    # lowering the threshold admits the half-contained doc
    loose = TD.contamination_check(corpus, bench, k=8, min_frac_bp=2500)
    got = sorted((r.doc_id, r.bench_id) for r in loose.collect())
    assert got == [(1, 100), (3, 100)]

    # python ground truth for the partial doc's counts
    row3 = next(r for r in loose.collect() if r.doc_id == 3)
    bsh = {prompt[i : i + 8] for i in range(len(prompt) - 7)}
    csh = {
        (prompt[: len(prompt) // 2] + " zebra " * 20)[i : i + 8]
        for i in range(len(prompt[: len(prompt) // 2] + " zebra " * 20) - 7)
    }
    assert row3.n_bench == len(bsh)
    assert row3.n_hits == len(bsh & csh)


def test_contamination_check_broadcasts_benchmark(spark):
    """The benchmark side must broadcast — the corpus-side shingle explosion
    never shuffles against a distributed build side."""
    corpus = spark.createDataFrame(
        [(i, f"document number {i} with some shared phrasing") for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "document number 0 with some shared phrasing")],
        "bench_id long, text string",
    )
    plan = (
        TD.contamination_check(corpus, bench, k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_line_dedupe_removes_cross_doc_boilerplate(spark):
    """Lines repeated in >= min_docs DISTINCT documents vanish from every
    document; unique lines survive in original order; counts are exact."""
    docs = spark.createDataFrame(
        [
            (1, "alpha one\ncookie banner\nbeta two"),
            (2, "cookie banner\ngamma three"),
            (3, "delta four\n  cookie banner  \ndelta four"),  # trim matches
            (4, "all unique here\nnothing shared"),
            (5, ""),  # empty doc: 1 blank line, kept (blank never boiler)
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TD.line_dedupe(docs, "doc_id", "text").collect()}
    assert out[1].clean_text == "alpha one\nbeta two"
    assert (out[1].n_kept, out[1].n_removed) == (2, 1)
    assert out[2].clean_text == "gamma three"
    # doc 3: trimmed form matches the boiler key; duplicate-within-doc lines
    # are NOT boilerplate (distinct-doc count, not occurrence count)
    assert out[3].clean_text == "delta four\ndelta four"
    assert out[4].clean_text == "all unique here\nnothing shared"
    assert out[4].n_removed == 0
    assert out[5].clean_text == "" and out[5].n_kept == 1


def test_line_dedupe_null_text_counts_zero(spark):
    """NULL text is zero lines: (clean_text '', n_kept 0, n_removed 0) —
    never a negative or NULL count (size(split(NULL)) is -1/NULL depending
    on the engine's sizeOfNull setting)."""
    docs = spark.createDataFrame(
        [(1, "shared\nx"), (2, "shared\ny"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TD.line_dedupe(docs).collect()}
    assert (out[3].clean_text, out[3].n_kept, out[3].n_removed) == ("", 0, 0)
    # the accounting identity holds for every doc
    assert (out[1].n_kept + out[1].n_removed) == 2


def test_line_dedupe_within_doc_repeats_not_boiler(spark):
    """A line repeated many times inside ONE doc stays (countDistinct)."""
    docs = spark.createDataFrame(
        [(1, "spam\nspam\nspam\nham"), (2, "eggs\ntoast")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TD.line_dedupe(docs, "doc_id", "text").collect()}
    assert out[1].clean_text == "spam\nspam\nspam\nham"
    assert out[2].n_removed == 0


def test_line_dedupe_min_docs_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb"), (3, "shared\nc")],
        "doc_id long, text string",
    )
    loose = {r.doc_id: r for r in TD.line_dedupe(docs, min_docs=4).collect()}
    assert all(r.n_removed == 0 for r in loose.values())
    tight = {r.doc_id: r for r in TD.line_dedupe(docs, min_docs=3).collect()}
    assert all(r.clean_text in {"a", "b", "c"} for r in tight.values())


def test_exact_substring_spans_basic(spark):
    """A verbatim 10-token passage shared by two docs yields one maximal
    span per doc covering exactly the passage; unique text yields none."""
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "unique head one two three " + passage),
            (2, passage + " unique tail four five"),
            (3, "totally different words everywhere nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TD.exact_substring_spans(docs, k=8).collect()}
    # doc 1: passage tokens occupy positions 6..15 -> windows 6,7,8 (k=8)
    assert (out[1].start_tok, out[1].end_tok, out[1].n_windows) == (6, 15, 3)
    # doc 2: passage at positions 1..10 -> windows 1,2,3
    assert (out[2].start_tok, out[2].end_tok, out[2].n_windows) == (1, 10, 3)
    assert 3 not in out


def test_exact_substring_spans_merges_islands(spark):
    """Two disjoint shared passages in one doc come back as two spans."""
    p1 = "one two three four five six seven eight"
    p2 = "red orange yellow green blue indigo violet pink"
    docs = spark.createDataFrame(
        [
            (1, p1 + " xx yy zz " + p2),
            (2, p1),
            (3, p2),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r.start_tok, r.end_tok)
        for r in TD.exact_substring_spans(docs, k=8).collect()
        if r.doc_id == 1
    )
    assert spans == [(1, 8), (12, 19)]


def test_exact_substring_spans_mixed_partner_merge(spark):
    """Documents the precision caveat: adjacent windows duplicated against
    DIFFERENT partners merge into one span even though the merged span
    appears verbatim in no single other document. Cutting it is still the
    paper's removal unit (every token is in some duplicated window)."""
    # k=3; doc 1 = "a b c d": window (a b c) shared only with doc 2,
    # window (b c d) shared only with doc 3
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "zz qq a b c rr"),
            (3, "ww b c d yy xx"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: (r.start_tok, r.end_tok, r.n_windows)
        for r in TD.exact_substring_spans(docs, k=3).collect()
    }
    assert spans[1] == (1, 4, 2)  # merged despite distinct partners
    assert spans[2] == (3, 5, 1)
    assert spans[3] == (2, 4, 1)


def test_exact_substring_spans_within_doc_repeat_not_flagged(spark):
    """min_docs counts DISTINCT documents: a phrase repeated twice inside
    one doc is not an exact-substring duplicate."""
    p = "aa bb cc dd ee ff gg hh"
    docs = spark.createDataFrame(
        [(1, p + " and then " + p), (2, "nothing in common here at all ok")],
        "doc_id long, text string",
    )
    assert TD.exact_substring_spans(docs, k=8).count() == 0


def test_exact_substring_spans_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short"), (3, "")],
        "doc_id long, text string",
    )
    # < k tokens -> no windows -> no spans (even for verbatim dupes;
    # exact_dupes covers whole-doc duplication)
    assert TD.exact_substring_spans(docs, k=8).count() == 0
