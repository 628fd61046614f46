"""Hash-based sampling/shuffle/packing properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from oxi_diel_db_spark.operators import sampling


def test_hash_sample_rate_and_stability(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    s = sampling.hash_sample(df, "k", rate=0.3, seed=1)
    n = s.count()
    assert abs(n / 20000 - 0.3) < 0.02
    # growth stability: sampling a superset keeps every prior decision
    bigger = spark.range(0, 40000).withColumnRenamed("id", "k")
    s2 = set(r["k"] for r in sampling.hash_sample(bigger, "k", 0.3, seed=1).collect())
    s1 = set(r["k"] for r in s.collect())
    assert s1 <= s2
    # different seed → different sample
    s3 = set(r["k"] for r in sampling.hash_sample(df, "k", 0.3, seed=2).collect())
    assert s1 != s3


def test_stratified_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(10000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = sampling.stratified_hash_sample(
        df, "k", "lang", {"en": 0.1, "de": 0.8}, seed=3
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["en"] / 5000 - 0.1) < 0.03
    assert abs(counts["de"] / 5000 - 0.8) < 0.03


def test_shuffle_is_permutation_and_reproducible(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = sampling.deterministic_shuffle(df, "k", seed=5)
    ranks = [r["shuffle_rank"] for r in a.collect()]
    assert sorted(ranks) == list(range(1, 5001))
    b = {r["k"]: r["shuffle_rank"] for r in sampling.deterministic_shuffle(df.repartition(7), "k", seed=5).collect()}
    a_map = {r["k"]: r["shuffle_rank"] for r in a.collect()}
    assert a_map == b  # partitioning-independent


def test_packing_respects_budget(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, int(rng.randint(10, 900))) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, n_tok long")
    packed = sampling.pack_sequences(df, "k", "n_tok", budget=1000, seed=9)
    per_bin = (
        packed.groupBy("bin_id").agg(F.sum("n_tok").alias("tot")).collect()
    )
    # cumsum packing: a straddling doc can overshoot, bounded by 2x
    assert all(r["tot"] < 2000 for r in per_bin)
    ids = sorted(r["bin_id"] for r in per_bin)
    assert ids == list(range(len(ids)))  # contiguous, no empty bins


def test_greedy_packing_strict_budget(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    rows = [(i, int(rng.randint(10, 900))) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, n_tok long")
    packed = sampling.pack_sequences_greedy(df, "k", "n_tok", budget=1000, seed=9, shards=4)
    per_bin = packed.groupBy("bin_id").agg(F.sum("n_tok").alias("tot")).collect()
    assert all(r["tot"] <= 1000 for r in per_bin)
    assert packed.count() == 2000
    # deterministic across repartitioning
    a = sorted(map(tuple, packed.select("k", "bin_id").collect()))
    b = sorted(map(tuple, sampling.pack_sequences_greedy(
        df.repartition(11), "k", "n_tok", budget=1000, seed=9, shards=4
    ).select("k", "bin_id").collect()))
    assert a == b


def test_mix_corpora_epoch_structure(spark):
    rows = [(i, f"src{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"src0": 2.5, "src1": 1.0, "src2": 0.5}  # src3 dropped
    mixed = sampling.mix_corpora(df, "doc_id", "source", weights, seed=7)
    got = mixed.groupBy("source", "epoch").count().collect()
    by = {(r["source"], r["epoch"]): r["count"] for r in got}
    # full epochs are complete copies
    assert by[("src0", 0)] == 100 and by[("src0", 1)] == 100
    assert by[("src1", 0)] == 100
    # fractional epochs are ~rate-sized, strictly partial
    assert 0 < by[("src0", 2)] < 100
    assert 0 < by[("src2", 0)] < 100
    # dropped source contributes nothing; epochs never exceed ceil(w)
    assert not any(s == "src3" for s, _ in by)
    assert max(e for _, e in by) == 2
    # deterministic: same decisions on a re-run over repartitioned data
    again = sampling.mix_corpora(
        df.repartition(13), "doc_id", "source", weights, seed=7
    )
    assert sorted(map(tuple, mixed.collect())) == sorted(map(tuple, again.collect()))


def test_capped_sample_per_key(spark):
    rows = [(i, i % 7) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k int")
    capped = sampling.capped_sample_per_key(df, "k", "id", max_rows=10, seed=3)
    per_key = capped.groupBy("k").count().collect()
    assert all(r["count"] == 10 for r in per_key)  # every key hits the cap
    # stability: keys under the cap keep ALL rows; kept sets reproducible
    small = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "id long, k int")
    kept = sampling.capped_sample_per_key(small, "k", "id", max_rows=10).collect()
    assert len(kept) == 3
    a = sorted(r["id"] for r in sampling.capped_sample_per_key(df, "k", "id", 10, seed=3).collect())
    b = sorted(r["id"] for r in sampling.capped_sample_per_key(df.repartition(9), "k", "id", 10, seed=3).collect())
    assert a == b


def test_bucketed_rank_equals_global_window(spark):
    """The bucketed two-pass must be bit-identical to the naive global
    ORDER BY window it replaces, at any bucket width."""
    from pyspark.sql import Window

    from oxi_diel_db_spark.operators.sampling import (
        deterministic_shuffle,
        hash_hex8,
        pack_sequences,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.length("text").alias("n_tok")
    )
    naive = docs.withColumn(
        "shuffle_rank",
        F.row_number().over(Window.orderBy(hash_hex8("doc_id", 7).asc(), F.col("doc_id").asc())),
    )
    for chars in (1, 2):
        got = deterministic_shuffle(docs, "doc_id", seed=7, bucket_chars=chars)
        assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0

    w = Window.orderBy(hash_hex8("doc_id", 7).asc(), F.col("doc_id").asc())
    clamped = F.least(F.col("n_tok").cast("bigint"), F.lit(512))
    naive_pack = docs.withColumn(
        "bin_id",
        F.floor(
            (F.sum(clamped).over(w.rowsBetween(Window.unboundedPreceding, 0)) - clamped) / 512
        ),
    )
    got_pack = pack_sequences(docs, "doc_id", "n_tok", budget=512, seed=7)
    assert got_pack.exceptAll(naive_pack).count() == 0
    assert naive_pack.exceptAll(got_pack).count() == 0


def test_three_way_split_proportions_and_stability(spark, sf_dir):
    import __spark_entry__ as E

    q = E.queries()["p8_three_way_split"]
    counts = {r["split"]: r["n"] for r in q(spark, sf_dir).groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    total = sum(counts.values())
    assert 0.7 < counts["train"] / total < 0.9
    assert counts["val"] / total < 0.2 and counts["test"] / total < 0.2
    # re-run is byte-stable (hash-gated, not RNG)
    again = {r["split"]: r["n"] for r in q(spark, sf_dir).groupBy("split").count()
             .withColumnRenamed("count", "n").collect()}
    assert again == counts


def test_p15_budget_conservation(spark):
    """p15: allocations never exceed availability, capped sources get
    exactly their capacity, and the total allocation hits the budget
    (50% of corpus tokens) within per-source floor-rounding slack."""
    from oxi_diel_db_spark.queries import load_registry

    rows = (
        load_registry()["p15_mixture_allocation"]
        .build(spark, "/root/testdata/sf0.01")
        .collect()
    )
    total_tokens = sum(r["n_tokens"] for r in rows)
    budget = total_tokens // 2
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    for r in rows:
        assert 0 <= r["alloc_tokens"] <= r["n_tokens"]
        if r["capped"]:
            assert r["alloc_tokens"] == r["n_tokens"]
    assert budget - len(rows) <= total_alloc <= budget


def test_p18_epochs_reshuffle_but_reproduce(spark):
    """Each epoch's order is reproducible run-to-run, shards are
    near-balanced, and no two epochs present the corpus in the same
    order (the reshuffle-not-repeat contract)."""
    from oxi_diel_db_spark.queries import load_registry

    q = load_registry()["p18_epoch_shard_order"].build
    a = q(spark, "/root/testdata/sf0.001").collect()
    b = q(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_epoch = {}
    for r in a:
        by_epoch.setdefault(r["epoch"], []).append(
            (r["shard"], r["pos_in_shard"], r["doc_id"])
        )
    orders = {
        e: [d for _, _, d in sorted(rows)] for e, rows in by_epoch.items()
    }
    es = sorted(orders)
    assert len(es) == 3
    for i in range(len(es)):
        for j in range(i + 1, len(es)):
            assert orders[es[i]] != orders[es[j]]
    # shard balance: no shard hoards more than 2x its fair share
    from collections import Counter

    n_docs = len(orders[es[0]])
    counts = Counter(s for s, _, _ in by_epoch[es[0]])
    assert max(counts.values()) <= 2 * n_docs / 8


def test_assign_shards_matches_sequential_replay(spark):
    """assign_shards' bucketed two-pass must equal a sequential Python
    replay of the cumsum rule (shard = floor(tokens-before-bin /
    budget)) — forced across MULTIPLE bin-buckets (bin_bucket=4) so the
    offset/broadcast path is actually exercised — and must be invariant
    to input partitioning. Straddle bound: every shard's total < budget
    + its last bin's total (mirrors pack_sequences one level up)."""
    import numpy as np

    rng = np.random.RandomState(3)
    # packed table: 60 bins, ragged totals, several docs per bin
    rows = []
    k = 0
    bin_tot = {}
    for b in range(60):
        for _ in range(int(rng.randint(1, 5))):
            tok = int(rng.randint(50, 700))
            rows.append((k, tok, b))
            bin_tot[b] = bin_tot.get(b, 0) + min(tok, 1000)
            k += 1
    df = spark.createDataFrame(rows, "doc_id long, n_tok long, bin_id long")
    got = sampling.assign_shards(
        df, "n_tok", "bin_id", shard_budget=3000, budget=1000, bin_bucket=4
    )
    m = {r["doc_id"]: r["shard_id"] for r in got.collect()}
    # sequential replay
    cum, want_shard = 0, {}
    for b in sorted(bin_tot):
        want_shard[b] = cum // 3000
        cum += bin_tot[b]
    for doc_id, tok, b in rows:
        assert m[doc_id] == want_shard[b], (doc_id, b)
    # partitioning-invariant
    got2 = sampling.assign_shards(
        df.repartition(13), "n_tok", "bin_id",
        shard_budget=3000, budget=1000, bin_bucket=4,
    )
    assert {r["doc_id"]: r["shard_id"] for r in got2.collect()} == m
    # straddle bound per shard
    shard_tot: dict = {}
    for b, s in want_shard.items():
        shard_tot[s] = shard_tot.get(s, 0) + bin_tot[b]
    for s, tot in shard_tot.items():
        last_bin = max(b for b, sh in want_shard.items() if sh == s)
        assert tot < 3000 + bin_tot[last_bin]


def test_p20_export_roundtrip_manifest_and_lineage(spark):
    """The registered p20 gate output must be self-consistent: every
    doc exactly once, bins never span shards, the manifest columns
    re-derive from the doc rows, and the split lineage matches an
    independent md5 recomputation."""
    import hashlib
    from collections import defaultdict

    from oxi_diel_db_spark.queries import load_registry

    rows = (
        load_registry()["p20_shard_export"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == len({r["doc_id"] for r in rows}) == 500
    by_shard = defaultdict(list)
    bin_to_shard = {}
    for r in rows:
        by_shard[(r["split"], r["shard_id"])].append(r)
        prev = bin_to_shard.setdefault(r["bin_id"], r["shard_id"])
        assert prev == r["shard_id"]  # a bin never spans shards
        want = (
            "train"
            if hashlib.md5(f"split:{r['shard_id']}".encode()).hexdigest()[0] < "b"
            else "val"
        )
        assert r["split"] == want
        assert r["n_tok"] <= 2048
    for (_, _), grp in by_shard.items():
        g0 = grp[0]
        assert g0["shard_docs"] == len(grp)
        assert g0["shard_tok"] == sum(r["n_tok"] for r in grp)
        assert g0["shard_bins"] == len({r["bin_id"] for r in grp})
    # shard ids are contiguous from 0
    shards = sorted({r["shard_id"] for r in rows})
    assert shards == list(range(len(shards)))


def test_p21_ledger_continuity_and_single_flush_restriction(spark):
    """p21's incremental contract: (a) with the corpus as ONE flush the
    (bin, shard) assignment is bit-identical to the batch p4+assign
    machinery (restriction equality, the d21 pattern); (b) in the
    registered 4-flush run bin ids are globally contiguous, flush
    boundaries never reopen a bin, and at least one SHARD spans a
    flush boundary — the ledger continuation doing real work."""
    from collections import defaultdict

    from oxi_diel_db_spark.functions import text as TX
    from oxi_diel_db_spark.operators.sampling import (
        assign_shards,
        pack_sequences,
    )
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.queries._util import t
    import pyspark.sql.functions as FF

    sf = "/root/testdata/sf0.001"
    rows = (
        load_registry()["p21_incremental_shard_export"]
        .build(spark, sf)
        .collect()
    )
    assert len(rows) == 500
    # (a) single-flush restriction: re-run the batch machinery on
    # flush 0's docs alone and compare bit-for-bit
    f0_docs = {r["doc_id"] for r in rows if r["batch_id"] == 0}
    toks = (
        t(spark, sf, "documents")
        .filter(FF.col("doc_id").isin(*f0_docs))
        .select("doc_id", TX.ws_token_count("text").alias("n_tok"))
    )
    ref = {
        r["doc_id"]: (r["bin_id"], r["shard_id"])
        for r in assign_shards(
            pack_sequences(toks, "doc_id", "n_tok", budget=2048, seed=42),
            "n_tok",
            "bin_id",
            shard_budget=8192,
            budget=2048,
        ).collect()
    }
    got0 = {
        r["doc_id"]: (r["bin_id"], r["shard_id"])
        for r in rows
        if r["batch_id"] == 0
    }
    assert got0 == ref
    # (b) global bin contiguity + no bin spans flushes
    bin_batches = defaultdict(set)
    for r in rows:
        bin_batches[r["bin_id"]].add(r["batch_id"])
    assert sorted(bin_batches) == list(range(len(bin_batches)))
    assert all(len(bs) == 1 for bs in bin_batches.values())
    # shards contiguous from 0, and some shard spans a flush boundary
    shard_batches = defaultdict(set)
    for r in rows:
        shard_batches[r["shard_id"]].add(r["batch_id"])
    assert sorted(shard_batches) == list(range(len(shard_batches)))
    assert any(len(bs) > 1 for bs in shard_batches.values()), (
        "no shard spans a flush boundary — ledger continuation idle"
    )
    # ledger arithmetic: each shard's token total < budget + last
    # bin's total (the straddle bound, now across flushes)
    shard_tok = defaultdict(int)
    for r in rows:
        shard_tok[r["shard_id"]] += r["n_tok"]
    full = [s for s in sorted(shard_tok) if s < max(shard_tok)]
    for s in full:
        assert shard_tok[s] >= 8192 - 2048  # never closed early


def test_within_grouped_walk_equals_per_group_calls(spark):
    """r14: pack_sequences/assign_shards with within=("grp",) must give
    each group EXACTLY what a separate per-group call gives — the c7
    release gate replaced its three per-split chains with one grouped
    walk on the strength of this identity. A NULL group is a group like
    any other: its rows are kept and packed as a call over them alone."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (int(i), int(rng.randint(10, 900)), ("a", "b", "c", None)[i % 4])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long, grp string")

    grouped = sampling.assign_shards(
        sampling.pack_sequences(
            df, "doc_id", "n_tok", budget=1000, seed=42, within=("grp",)
        ),
        "n_tok",
        "bin_id",
        shard_budget=3000,
        budget=1000,
        bin_bucket=4,  # force multiple bin-buckets per group
        within=("grp",),
    )
    got = {
        r["doc_id"]: (r["grp"], r["bin_id"], r["shard_id"])
        for r in grouped.collect()
    }
    assert len(got) == 300
    for g in ("a", "b", "c", None):
        sub = df.filter(F.col("grp").eqNullSafe(F.lit(g))).select("doc_id", "n_tok")
        ref = sampling.assign_shards(
            sampling.pack_sequences(sub, "doc_id", "n_tok", budget=1000, seed=42),
            "n_tok",
            "bin_id",
            shard_budget=3000,
            budget=1000,
            bin_bucket=4,
        )
        for r in ref.collect():
            assert got[r["doc_id"]] == (g, r["bin_id"], r["shard_id"])
