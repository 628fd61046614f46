"""Dedup-family correctness on handmade documents with known overlap."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "spark engines shuffle data across executors in stages"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark, docs_df):
    groups = {r["keep_id"]: r["n_docs"] for r in dedup.exact_dedup_groups(docs_df).collect()}
    assert groups[0] == 2  # docs 0 and 3 share a fingerprint
    assert sum(groups.values()) == 5


def test_ngram_jaccard_finds_near_dup(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.4 < pairs[(0, 1)] < 1.0  # near dup
    assert (0, 2) not in pairs


def test_minhash_identical_docs_identical_sigs(spark, docs_df):
    sigs = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(docs_df).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    assert len(sigs[0]) == dedup.N_MINHASH


def test_minhash_lsh_pairs(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.25).collect()
    }
    assert pairs[(0, 3)] == 1.0


def test_simhash_deterministic_and_close(spark, docs_df):
    h1 = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs_df).collect()}
    h2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs_df).collect()}
    assert h1 == h2  # deterministic across runs
    assert h1[0] == h1[3]  # exact dups → identical fingerprints
    mask = (1 << 64) - 1  # signed hashes: mask before popcount
    ham_near = bin((h1[0] ^ h1[1]) & mask).count("1")
    ham_far = bin((h1[0] ^ h1[2]) & mask).count("1")
    assert ham_near < ham_far


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             dedup.embedding_neardup_pairs(emb, threshold=0.99).collect()}
    assert pairs == {(0, 1)}


def test_blocked_embedding_neardup_matches_simple(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    simple = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs(emb, 0.5).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs_blocked(emb, 0.5, n_blocks=5).collect()
    }
    assert set(simple) == set(blocked)
    for k in simple:
        assert abs(simple[k] - blocked[k]) < 2e-6  # both rounded at 1e-6


def test_ngram_jaccard_df_cap_is_conservative(spark, docs_df):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_df, threshold=0.3, max_doc_freq=2
        ).collect()
    }
    assert set(capped) <= set(exact)  # never invents pairs
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9  # lower bound on true jaccard
    # a huge cap must reproduce exact results
    uncapped_hi = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_df, threshold=0.3, max_doc_freq=10**6
        ).collect()
    }
    assert uncapped_hi == exact


def test_edge_cases_empty_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "three words here"),
         (4, "three words here")],
        "doc_id long, text string",
    )
    # exact dedup handles empty/short docs (empty-string fingerprints group)
    groups = dedup.exact_dedup_groups(docs)
    assert groups.agg(F.sum("n_docs")).collect()[0][0] == 5
    # docs with <3 words have no shingles: absent from signatures, never
    # candidates — by design (can't be shingle-near-duplicates)
    sigs = dedup.minhash_signatures(docs)
    assert {r["doc_id"] for r in sigs.collect()} == {3, 4}
    pairs = dedup.minhash_lsh_pairs(docs).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(3, 4)]
    # simhash of empty text is 0, not an error
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert h[0] == 0


def test_lsh_bucket_cap_is_conservative(spark, docs_df):
    exact = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_lsh_pairs(docs_df, threshold=0.25).collect()}
    capped = {(r["doc_a"], r["doc_b"]) for r in
              dedup.minhash_lsh_pairs(docs_df, threshold=0.25, max_bucket_size=2).collect()}
    assert capped <= exact
    big_cap = {(r["doc_a"], r["doc_b"]) for r in
               dedup.minhash_lsh_pairs(docs_df, threshold=0.25, max_bucket_size=10**6).collect()}
    assert big_cap == exact


def test_dedup_clusters_transitive_chain(spark):
    # chain 1-2, 2-3, plus island 10-11; transitivity must collapse the
    # chain to ONE cluster labeled with its min id
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # long chain exercises multiple propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)], "doc_a long, doc_b long"
    )
    got2 = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(chain).collect()}
    assert set(got2.values()) == {20}
    # partitioning-independent
    got3 = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(chain.repartition(7)).collect()
    }
    assert got3 == got2


def test_dedup_clusters_long_chain_pointer_doubling(spark):
    """A 120-node path converges well inside 50 rounds only because of
    the pointer-doubling step (plain neighbor-min needs ~120 rounds)."""
    from oxi_diel_db_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(pairs, max_iters=15).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 121


def test_dedup_clusters_raises_on_non_convergence(spark):
    import pytest as _pytest

    from oxi_diel_db_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    # small_graph_max_edges=0 forces the distributed loop (the driver
    # union-find fast path has no iteration cap to trip)
    with _pytest.raises(RuntimeError, match="no convergence"):
        dedup.dedup_clusters(pairs, max_iters=2, small_graph_max_edges=0)


def test_dedup_clusters_fast_path_matches_distributed(spark):
    """Driver union-find fast path and the frontier-pruned distributed
    loop must produce identical (doc_id, cluster_id) labels — a path
    graph (worst case for propagation: max diameter), a star, an
    isolated pair, and a diamond with a cross edge."""
    from oxi_diel_db_spark.operators import dedup

    edges = (
        [(i, i + 1) for i in range(20)]          # path 0..20
        + [(100, x) for x in (101, 102, 103)]    # star
        + [(200, 201)]                           # pair
        + [(300, 301), (300, 302), (301, 303), (302, 303), (301, 302)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = dedup.dedup_clusters(pairs)  # under the small-graph bound
    dist = dedup.dedup_clusters(pairs, small_graph_max_edges=0)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, dist.collect()))
    got = {r.doc_id: r.cluster_id for r in fast.collect()}
    assert all(got[i] == 0 for i in range(21))
    assert all(got[x] == 100 for x in (100, 101, 102, 103))
    assert got[201] == 200 and all(got[x] == 300 for x in (300, 301, 302, 303))


def _optimized_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


def test_dedup_clusters_small_path_one_bounded_collect(spark, monkeypatch):
    """The small-graph path materializes the raw pairs once and decides
    the path from one bounded collect: count() is never called, nothing
    it materializes or collects symmetrizes the pairs (no Union), and
    the cluster table is a LocalRelation, so callers can broadcast it."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []

    def recording(meth):
        orig = getattr(DataFrame, meth)

        def wrapped(self, *args, **kwargs):
            plans.append(self._jdf.queryExecution().analyzed().toString())
            return orig(self, *args, **kwargs)

        return wrapped

    def no_count(self):
        raise AssertionError("count() called on the small-graph path")

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(DataFrame, "count", no_count)
    monkeypatch.setattr(DataFrame, "localCheckpoint", recording("localCheckpoint"))
    monkeypatch.setattr(DataFrame, "collect", recording("collect"))
    labels = dedup.dedup_clusters(pairs)
    monkeypatch.undo()
    assert len(plans) == 2  # one materialization, one collect
    assert not [p for p in plans if "Union" in p]
    assert _optimized_root(labels) == "LocalRelation"
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_bound_counts_raw_pairs(spark, monkeypatch):
    """small_graph_max_edges bounds the raw pair rows the driver
    collects: exactly that many rows take the driver path, one more
    takes the distributed loop, and both label duplicate, reversed and
    self-loop pairs alike. The raw rows (12) outnumber the symmetrized
    distinct edges (10), so a bound on edges would pick the other path."""
    raw = [
        (1, 2), (1, 2), (1, 2), (1, 2), (2, 1),  # duplicates, a reversed pair
        (3, 3), (3, 4),                          # self-loop inside a component
        (5, 6), (7, 7), (7, 7), (7, 7),          # an isolated self-loop, 3 times
        (4, 8),
    ]
    pairs = spark.createDataFrame(raw, "doc_a long, doc_b long")
    calls = []
    orig = dedup._driver_union_find

    def spy(*args):
        calls.append(len(args[1]))
        return orig(*args)

    monkeypatch.setattr(dedup, "_driver_union_find", spy)
    driver = dedup.dedup_clusters(pairs, small_graph_max_edges=len(raw))
    assert calls == [len(raw)]
    assert _optimized_root(driver) == "LocalRelation"
    dist = dedup.dedup_clusters(pairs, small_graph_max_edges=len(raw) - 1)
    assert calls == [len(raw)]  # the driver path was not taken again
    assert _optimized_root(dist) != "LocalRelation"
    want = {1: 1, 2: 1, 3: 3, 4: 3, 8: 3, 5: 5, 6: 5, 7: 7}
    assert {r.doc_id: r.cluster_id for r in driver.collect()} == want
    assert {r.doc_id: r.cluster_id for r in dist.collect()} == want


def test_dedup_clusters_runs_pair_pipeline_once_above_bound(spark):
    """Above the bound the edge list is symmetrized from the already
    materialized pairs: a Python UDF in the pair pipeline sees each
    input row exactly once, on either path."""
    from pyspark.sql.functions import udf

    rows = [(i, i + 1) for i in range(0, 40, 2)]
    for bound in (len(rows), 0):
        seen = spark.sparkContext.accumulator(0)

        def ident(x, seen=seen):
            seen.add(1)
            return x

        pairs = spark.createDataFrame(rows, "doc_a long, doc_b long").select(
            udf(ident, "long")("doc_a").alias("doc_a"), "doc_b"
        )
        labels = dedup.dedup_clusters(pairs, small_graph_max_edges=bound)
        assert labels.count() == 2 * len(rows)
        assert seen.value == len(rows), bound


def test_ngram_decontaminate_counts_and_ratio(spark):
    from oxi_diel_db_spark.operators import dedup

    bench = spark.createDataFrame(
        [(100, "the cat sat on the mat")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "the cat sat on a rug"),   # shares "the cat sat" + "cat sat on"
            (2, "dogs bark at the moon"),  # clean
            (3, "the cat sat on the mat today"),  # near-superset: 5 of 6 shared
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.ngram_decontaminate(train, bench, n=3).collect()
    }
    assert out[1]["n_shared"] == 2 and out[1]["n_ngrams"] == 4
    assert out[2]["n_shared"] == 0 and out[2]["contamination"] == 0.0
    assert out[3]["n_shared"] == 4 and out[3]["n_ngrams"] == 5
    assert abs(out[3]["contamination"] - 0.8) < 1e-12


def test_containment_catches_embedded_small_doc(spark):
    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(0, big), (1, small), (2, "unrelated words about storage engines here")],
        "doc_id long, text string",
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.9).collect()
    }
    # every shingle of the small doc appears in the big one
    assert cont[(0, 1)] == 1.0
    assert (0, 2) not in cont
    # Jaccard at the same threshold misses the pair entirely
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
    }
    assert (0, 1) not in jac


def test_span_dedup_cuts_repeated_span_keeps_first(spark):
    span10 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    df = spark.createDataFrame(
        [
            (0, span10 + " unique tail of document zero only here"),
            (1, span10 + " totally different continuation for doc one"),
            (2, "no duplication at all in this document text body"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.span_dedup(df, span=10).collect()}
    assert out[0]["n_spans"] == 2 and out[0]["n_kept"] == 2  # first occurrence kept
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 1  # shared span cut
    assert out[2]["n_spans"] == 1 and out[2]["n_kept"] == 1
    # doc 1's surviving text = its second span only
    import hashlib

    expected = hashlib.md5(b"totally different continuation for doc one").hexdigest()
    assert out[1]["kept_fp"] == expected


def test_span_dedup_empty_doc_row_preserved(spark):
    df = spark.createDataFrame([(0, ""), (1, "one two three")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dedup(df, span=10).collect()}
    assert out[0]["n_spans"] == 0 and out[0]["n_kept"] == 0
    import hashlib

    assert out[0]["kept_fp"] == hashlib.md5(b"").hexdigest()
    assert out[1]["n_spans"] == 1 and out[1]["n_kept"] == 1


def test_bloom_decontaminate_supersets_exact(spark):
    # bench shares 3-grams with train docs 0/1; doc 2 is clean modulo FPs
    train = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a quick brown fox appears in this training document"),
            (2, "entirely disjoint vocabulary tokens xylophone quartz nebula"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox went home")], "doc_id long, text string"
    )
    exact = {
        r["doc_id"]: r for r in dedup.ngram_decontaminate(train, bench).collect()
    }
    bloom = {
        r["doc_id"]: r for r in dedup.bloom_decontaminate(train, bench).collect()
    }
    assert set(exact) == set(bloom) == {0, 1, 2}
    for did in exact:
        assert exact[did]["n_ngrams"] == bloom[did]["n_ngrams"]
        # one-sided error: bloom flags everything exact flags (no FNs)
        assert bloom[did]["n_flagged"] >= exact[did]["n_shared"]
    assert exact[0]["n_shared"] >= 2  # "the quick brown", "quick brown fox"
    # with a near-empty filter (7 bench ngrams * 3 bits of 65536) the FP
    # probability per probe is ~(21/65536)^3 ≈ 3e-11 — doc 2 stays clean
    assert bloom[2]["n_flagged"] == 0


def test_incremental_lsh_is_asymmetric_and_consistent(spark, docs_df):
    """d14's operator: pairs only cross the new/existing boundary, and
    every reported pair agrees with the symmetric d3 estimate."""
    new = docs_df.filter(F.col("doc_id").isin(0, 1))
    existing = docs_df.filter(~F.col("doc_id").isin(0, 1))
    inc = {
        (r["new_id"], r["existing_id"]): r["est_jaccard"]
        for r in dedup.incremental_lsh_pairs(new, existing, threshold=0.25).collect()
    }
    assert all(a in (0, 1) and b not in (0, 1) for a, b in inc)
    assert (0, 3) in inc and inc[(0, 3)] == 1.0  # exact dup across the split
    full = {
        tuple(sorted((r["doc_a"], r["doc_b"]))): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.25).collect()
    }
    for (a, b), est in inc.items():
        assert full.get(tuple(sorted((a, b)))) == est, (a, b)


def test_d16_keep_first_semantics(spark):
    """d16: keep-first per semantic duplicate set — every dropped
    vector has a KEPT smaller-id near-dup in its cell, and the kept
    set contains no within-cell near-pair where the larger id
    survived (no dup set keeps two members via the smaller-id rule's
    transitivity direction)."""
    import numpy as np

    from oxi_diel_db_spark.queries import load_registry

    rows = (
        load_registry()["d16_semantic_dedup"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    }
    cell = {r["vec_id"]: r["cell"] for r in rows}
    keep = {r["vec_id"]: bool(r["keep"]) for r in rows}

    def cos(a, b):
        va, vb = emb[a], emb[b]
        return round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)

    dropped = [v for v, k in keep.items() if not k]
    for v in dropped:
        mates = [
            u for u in cell
            if cell[u] == cell[v] and u < v and cos(u, v) >= 0.4
        ]
        assert mates, f"{v} dropped with no smaller-id near-dup in cell"
    # larger id of any within-cell near-pair must be dropped
    ids = sorted(cell)
    for i, u in enumerate(ids):
        for v in ids[i + 1:]:
            if cell[u] == cell[v] and cos(u, v) >= 0.4:
                assert not keep[v], (u, v)


# ---------------------------------------------------------------------------
# r9 dedup quality harness (d17/d18/d19)
# ---------------------------------------------------------------------------


def _by_noise(rows, key="noise_pct"):
    return {r[key]: r for r in rows}


def test_d17_exact_jaccard_curve_bounds(spark):
    """Exact Jaccard at threshold 0.2 MUST catch every 5%-deletion
    variant: a doc with w >= 8 normalized words loses floor(w/20)
    words, hence <= 3*floor(w/20) of its w-2 3-shingles — Jaccard
    stays far above 0.2 for any w (docs under 20 words lose nothing
    at all). Recall curves are monotone nonincreasing in noise and
    the planted pairs dominate detections (precision >= 0.5)."""
    from oxi_diel_db_spark.queries import load_registry

    rows = load_registry()["d17_dedup_quality_ngram"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = _by_noise(rows)
    assert set(by) == {5, 10, 20, 33}
    assert by[5]["recall"] == 1.0
    rs = [by[p]["recall"] for p in (5, 10, 20, 33)]
    assert all(a >= b for a, b in zip(rs, rs[1:])), rs
    assert all(r["precision"] >= 0.5 for r in rows)
    assert all(r["n_docs"] > 0 for r in rows)


def test_d18_lsh_recall_degrades_gracefully(spark):
    """MinHash-LSH recall: near-perfect at 5% deletion, near-zero at
    33% — the 1-(1-s^2)^4 banding curve with 8 perms / 4 bands.
    NOTE the curve is NOT bounded by d17's exact curve pointwise:
    d18 thresholds the 8-slot SIGNATURE estimate (>= 2/8), so a pair
    whose true Jaccard sits below d17's exact 0.2 cutoff can still
    clear it by estimator variance (observed: +0.002 at 33% noise on
    sf0.001) — comparing the two curves is exactly what the harness
    is FOR, not an invariant to assert."""
    from oxi_diel_db_spark.queries import load_registry

    reg = load_registry()
    sf = "/root/testdata/sf0.001"
    lsh = _by_noise(reg["d18_dedup_quality_minhash"].build(spark, sf).collect())
    assert set(lsh) == {5, 10, 20, 33}
    assert lsh[5]["recall"] >= 0.85
    assert lsh[33]["recall"] <= 0.15
    rs = [lsh[p]["recall"] for p in (5, 10, 20, 33)]
    assert all(a >= b for a, b in zip(rs, rs[1:])), rs


def test_d19_semdedup_recall_splits_routing_and_cosine_loss(spark):
    """d19's two curves decompose SemDeDup's recall: hits require
    same-cell routing AND cosine >= threshold, so recall <=
    routing_recall everywhere; both fall as noise amplitude rises;
    at A=0.4 the cosine test passes whenever routing does (planted
    cosine ~0.975 >> 0.95) while at A=1.0 recall collapses."""
    from oxi_diel_db_spark.queries import load_registry

    rows = load_registry()["d19_semdedup_quality"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = _by_noise(rows, key="amp_pct")
    assert set(by) == {40, 60, 80, 100}
    for r in rows:
        assert r["recall"] <= r["routing_recall"] + 1e-9
        assert r["n_hits"] <= r["n_same_cell"] <= r["n_vecs"]
    assert by[40]["routing_recall"] >= by[100]["routing_recall"]
    assert by[40]["recall"] >= 0.5
    assert by[100]["recall"] <= 0.1


# ---- d20: exact repeated-substring detection (r10 birth) -----------------


def test_d20_nonaligned_overlapping_repeats(spark, tmp_path):
    """Planted repeats that d11's fixed-stride span hashing cannot see:
    the shared block starts at DIFFERENT, non-stride offsets in each
    document, and two repeats overlap inside one document — the step-1
    window + gaps-and-islands union must merge them exactly."""
    import pyspark.sql.functions as F

    from oxi_diel_db_spark.queries.llm_ops import d20_substring_dedup

    block = "The quick brown fox jumps over the lazy dog again and again!"
    assert len(block) >= 50
    docs = [
        # doc 0: block at offset 3 (non-aligned)
        (0, "abc" + block + "x" * 40),
        # doc 1: the same block at offset 17 (different alignment)
        (1, "y" * 17 + block + "z" * 10),
        # doc 2: the block again behind a 30-char copy of its own
        # prefix — the prefix repeat is BELOW the L=50 threshold and
        # must NOT be flagged (threshold semantics of the published
        # recipe), while the full block is
        (2, block[:30] + block + "tail" * 5),
        # doc 3: clean (no 50-gram repeated anywhere — genuinely
        # aperiodic text; a periodic filler like "qwerty "*8 would be
        # a REAL self-repeat and correctly flagged)
        (3, "completely unique aperiodic text zero one two three four"
            " five six seven eight nine ten eleven twelve thirteen"),
    ]
    pdf = spark.createDataFrame(
        [(i, s, "en", "test", len(s)) for i, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    pdf.write.parquet(sf + "/documents.parquet")
    out = {
        r["doc_id"]: r.asDict()
        for r in d20_substring_dedup(spark, sf).collect()
    }
    # docs 0 and 1 share `block`: every 50-gram of block repeats →
    # flagged span = the full block, at two different alignments
    assert out[0]["n_spans"] == 1
    assert out[0]["flagged_chars"] == len(block)
    assert out[1]["flagged_chars"] == len(block)
    # doc 2: only the ≥50-char repeat (the full block) is flagged; the
    # 30-char prefix repeat is below threshold by design
    assert out[2]["n_spans"] == 1
    assert out[2]["flagged_chars"] == len(block)
    # the clean doc flags nothing
    assert out[3]["n_spans"] == 0 and out[3]["flagged_chars"] == 0


# ---- d21: incremental substring dedup (r11 birth) -------------------------


def test_d21_incremental_matches_closed_form(spark, tmp_path):
    """The incremental identity: store_count + batch_count >= 2 over
    the persisted gram store must reproduce d20's closed-batch spans
    exactly, restricted to the new batch. Plants each detection class:
    a batch doc repeating an EXISTING doc's block (caught only via the
    store — within-batch count is 1), two batch docs sharing a block
    the corpus never saw (caught only via batch_count >= 2), and a
    clean batch doc (no flag either way)."""
    import pyspark.sql.functions as F

    from oxi_diel_db_spark.queries.llm_ops import (
        d20_substring_dedup,
        d21_incremental_substring_dedup,
    )

    old_block = "Historic corpus paragraph that new crawls keep quoting verbatim!"
    new_block = "Fresh duplicated press release only today's crawl contains, twice."
    assert len(old_block) >= 50 and len(new_block) >= 50
    docs = [
        # existing corpus (doc_id % 7 != 0)
        (1, "lead-in " + old_block + " trailing prose " + "a" * 20),
        (2, "unrelated existing text " + "b" * 60),
        # new batch (doc_id % 7 == 0)
        (0, "xx" + old_block + "yy" * 20),          # store-only hit
        (7, "p" * 9 + new_block + "q" * 12),         # batch-pair hit
        (14, new_block + " postscript " + "r" * 30),  # batch-pair hit
        (21, "singular novel batch document with nothing repeated at"
             " all anywhere in this tiny corpus, honest"),  # clean
    ]
    pdf = spark.createDataFrame(
        [(i, s, "en", "test", len(s)) for i, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    pdf.write.parquet(sf + "/documents.parquet")

    inc = {
        r["doc_id"]: r.asDict()
        for r in d21_incremental_substring_dedup(spark, sf).collect()
    }
    # only the batch is reported
    assert sorted(inc) == [0, 7, 14, 21]
    # store-only: old_block repeats across the store boundary
    assert inc[0]["n_spans"] == 1
    assert inc[0]["flagged_chars"] == len(old_block)
    # batch-pair: new_block unseen by the store, repeated in-batch
    assert inc[7]["flagged_chars"] == len(new_block)
    assert inc[14]["flagged_chars"] == len(new_block)
    # clean batch doc
    assert inc[21]["n_spans"] == 0 and inc[21]["flagged_chars"] == 0

    # cumulative equality: d20's closed form restricted to the batch
    closed = {
        r["doc_id"]: r.asDict()
        for r in d20_substring_dedup(spark, sf)
        .filter(F.col("doc_id") % 7 == 0)
        .collect()
    }
    assert closed == inc
