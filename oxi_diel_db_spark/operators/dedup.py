"""Deduplication operator family (north star; SURVEY.md §2.3 J8).

Five dedup strategies over a documents table, ordered by cost/recall:

* exact        — hash-groupBy on a content fingerprint; one shuffle.
* ngram_jaccard— inverted-index candidate join on word shingles +
                 exact Jaccard verify. Exact, but posting lists of hot
                 shingles can explode; at 100 TB cap/df-filter them.
* minhash_lsh  — MinHash signatures + banded LSH bucketing; candidates
                 only where a band collides. The 100 TB default: cost
                 is O(docs·k) + a shuffle per band on short keys.
* simhash      — 64-bit fingerprints, near-dup = small Hamming
                 distance; pandas_udf (bit math), block on 16-bit
                 prefixes.
* embedding    — cosine over embedding vectors (semantic near-dup).

MinHash here is md5-based, engine-portable and seed-stable: the DuckDB
oracle computes the *identical* signature (min over md5(seed:shingle)),
so LSH output is hash-checked exactly — stronger than the usual
"approx → rows-only" cop-out.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oxi_diel_db_spark.functions.text import norm_words, shingles, fingerprint
from oxi_diel_db_spark.tables import fanout

N_MINHASH = 8  # signature length
N_BANDS = 4  # → rows-per-band = 2


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group docs by bag-of-words fingerprint; keep_id = min id per group.
    One hash shuffle on the 32-hex fingerprint — the classic exact dedup."""
    # fanout (r13 opt): the bag-of-words fingerprint is regex/sort-dense
    # and otherwise runs at scan parallelism; identity at real scale
    return (
        fanout(docs, id_col)
        .select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int, pre_shuffle: bool = True
) -> DataFrame:
    """(id, shingle) with duplicates. The words array is materialized as
    its own projection BEFORE the shingle lambda: inlining
    norm_words(text) into the lambda makes every words[i] access
    re-execute the regex split (no CSE across higher-order-function
    boundaries) — 10× slower at sf0.1.

    pre_shuffle repartitions the raw docs by id BEFORE the regex/shingle
    chain: the chain is the CPU hot spot and otherwise runs at the scan's
    file parallelism (a single coalesced parquet file = one task doing
    all the regex work — measured 2.7 s of a 3.9 s query at sf0.1). The
    text shuffle is ~1/3 the bytes of the shingle-stream shuffles that
    follow, so this trades a small cheap shuffle for full-cluster CPU.
    Pass False when the input already has enough file parallelism."""
    if pre_shuffle:
        # fanout (r13 opt) replaces the unconditional repartition: same
        # spread of the regex chain when the scan is under-parallel, but
        # an identity at real scale — the old form ALWAYS shuffled the
        # text, even when the scan already had thousands of splits.
        docs = fanout(docs, id_col)
    words = docs.select(F.col(id_col), norm_words(text_col).alias("__w"))
    return words.select(
        F.col(id_col), F.explode(shingles(F.col("__w"), n)).alias("shingle")
    )


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """(id, shingle) distinct — the inverted-index base relation."""
    # pre_shuffle=False: the distinct's own exchange already gives the
    # downstream join full parallelism, and the extra doc-id exchange
    # measured SLOWER here (4.1 s vs 2.3 s at sf0.1) — unlike the
    # minhash path, where the chain feeds a groupBy directly and the
    # pre-shuffle is the only thing spreading the regex work.
    sh = _exploded_shingles(docs, id_col, text_col, n, pre_shuffle=False)
    if hashed:
        # collapse the shingle string to its xxhash64 BEFORE the
        # distinct: every downstream shuffle/join then moves 8-byte
        # ints instead of ~30-byte strings — measured 2.5× on the
        # whole Jaccard query at sf0.1. Distinct shingles colliding in
        # 64 bits would merge (P ≈ m²/2⁶⁵ — at 10¹⁰ corpus shingles
        # ~0.3% chance of ONE collision anywhere, which could only
        # nudge one pair's intersection count by 1).
        sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    return sh.distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted-index candidate join.

    |inter| comes from the self-join on shingle; |union| = |A|+|B|-|inter|.
    Only pairs sharing ≥1 shingle are ever materialized — no O(n²) pass.

    max_doc_freq is the 100 TB safety valve: a shingle appearing in
    df docs contributes df² candidate pairs, so one boilerplate phrase
    can quadratically blow up the join. Capping drops shingles with
    df > max_doc_freq from the intersection count: pairs sharing only
    ubiquitous shingles disappear, and surviving pairs get a LOWER
    BOUND on their true Jaccard (capped shingles no longer count as
    shared) — conservative for dedup: nothing is merged that exact
    Jaccard would not also merge. None disables the cap (exact mode —
    the oracle-checked default here).
    """
    sh = doc_shingles(docs, id_col, text_col, n, hashed=True)
    # Hot-shingle cap WITHOUT a join: document frequency as a window
    # count over the shingle partition — the same shuffle key the
    # candidate self-join needs anyway, so no extra exchange shape and,
    # crucially, NO broadcastable side. (The earlier groupBy+join form
    # let AQE broadcast the rare-shingle table: low-entropy shingle
    # strings compress under the 64 MB threshold on the wire yet
    # explode 10x+ as the driver's in-memory hash relation — measured
    # OOM at 400k planted-dup docs, tools/scale_probe.py ledger.)
    if max_doc_freq is not None:
        w_sh = Window.partitionBy("shingle")
        sh_cand = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w_sh))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    else:
        sh_cand = sh
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_cand.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh_cand.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = N_MINHASH
) -> DataFrame:
    """(id, sig array<string>[k]): sig[s] = min(md5(s || ':' || shingle)).

    md5-min is a valid MinHash family (each seed permutes the shingle
    space independently) and — unlike Spark's MinHashLSH — is portable:
    the oracle recomputes it bit-identically in SQL.

    All k minima are parallel aggregates of ONE groupBy over the
    (doc, shingle) relation — no seed explode (a k× row shuffle), no
    pre-dedup shuffle (min() absorbs duplicate shingles), and map-side
    partial mins mean the shuffle carries k hashes per (doc, partition)
    rather than the shingle stream. 3× faster than the exploded form at
    sf0.1 and the gap widens with k.
    """
    raw = _exploded_shingles(docs, id_col, text_col, n=3)
    mins = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(s)), F.col("shingle")))).alias(f"m{s}")
        for s in range(k)
    ]
    per_doc = raw.groupBy(id_col).agg(*mins)
    return per_doc.select(
        id_col, F.array(*[F.col(f"m{s}") for s in range(k)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs + signature-estimated Jaccard.

    Bucket key = md5(concat of the band's signature slice); candidates
    share ≥1 bucket. est_jaccard = (# equal signature slots)/k.
    One shuffle per band on 32-byte keys — scales linearly in docs.

    max_bucket_size is the hot-bucket guard (the LSH twin of d2's
    document-frequency cap): a bucket holding b docs yields b² candidate
    pairs, so low-entropy corpora (boilerplate, tiny vocabularies) can
    quadratically explode a band. Capping skips those buckets during
    candidate generation — pairs that collide ONLY in mega-buckets are
    lost, everything else is unchanged. None = exact (the oracle-checked
    default).
    """
    rows = k // bands
    # persist: the band self-join references signatures on BOTH sides —
    # without it the whole shingle+md5 pipeline executes twice (the
    # reference's manual-CSE-then-reuse pattern, SURVEY §4.1, as cache)
    sig = minhash_signatures(docs, id_col, text_col, k).persist()
    band_hash = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                "", *[F.element_at(F.col("sig"), (b * rows + r + 1).cast("int")) for r in range(rows)]
            )
        ),
    )
    banded = sig.select(id_col, F.posexplode(band_hash).alias("band", "bh"))
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__b"))
            .filter(F.col("__b") <= max_bucket_size)
            .select("band", "bh")
        )
        banded = banded.join(ok_buckets, ["band", "bh"])
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bh")
    # dedup on the bare 16-byte pair key FIRST, then re-join the two
    # signatures — distinct over rows carrying both sig arrays shuffles
    # k× more bytes for nothing
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"), F.col("sig_b"), lambda x, y: F.when(x == y, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(k))
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


_MIN_LONG = -(1 << 63)


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprints — pure JVM bit math, no UDF.

    Per doc: md5 each token (tf-weighted: duplicates count); take the
    first 16 hex chars (64 bits); per bit position sum ±1 across
    tokens; sign → fingerprint bit. Bit k = bit (k mod 4) of hex char
    k div 4, decoded via ascii() — every piece (md5/substr/ascii/
    shift/and) exists verbatim in DuckDB, so the fingerprints are
    bit-identical cross-engine and SimHash dedup is value-hash
    checkable (the earlier pandas_udf formulation forced a rows-only
    gate AND paid the Arrow crossing). Docs with no tokens get
    fingerprint 0.
    """
    # fanout (r13 opt): per-token md5 + hex decode is the CPU hot spot
    # and otherwise runs at scan parallelism; identity at real scale
    w = fanout(docs, id_col).select(
        F.col(id_col), F.explode(norm_words(text_col)).alias("__w")
    )
    w = w.withColumn("__h16", F.substring(F.md5("__w"), 1, 16))
    # decode the 16 hex chars ONCE per token; the 64 bit-sums below
    # read these columns (no CSE reliance across agg expressions)
    hv = w.select(
        F.col(id_col),
        *[
            F.when(
                F.ascii(F.substring("__h16", i + 1, 1)) <= 57,
                F.ascii(F.substring("__h16", i + 1, 1)) - 48,
            )
            .otherwise(F.ascii(F.substring("__h16", i + 1, 1)) - 87)
            .alias(f"v{i}")
            for i in range(16)
        ],
    )
    sums = [
        F.sum(
            F.shiftright(F.col(f"v{k // 4}"), k % 4).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{k}")
        for k in range(64)
    ]
    per = hv.groupBy(id_col).agg(*sums)
    fp = F.lit(0).cast("long")
    for k in range(63):
        fp = fp + F.when(F.col(f"b{k}") > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    fp = fp + F.when(F.col("b63") > 0, F.lit(_MIN_LONG)).otherwise(F.lit(0).cast("long"))
    sim = per.select(F.col(id_col), fp.alias("simhash"))
    return (
        docs.select(id_col)
        .join(sim, id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def sql_simhash_ctes(words_sql: str, table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB CTE chain ending in ``fp(doc_id, simhash)`` — the exact
    twin of :func:`simhash64` (same hex-char bit decode, same ±1 sums,
    same sign-bit assembly via the min-long literal, since DuckDB
    refuses ``1 << 63``)."""
    hexv = lambda i: (  # noqa: E731
        f"CASE WHEN ascii(substr(h16, {i + 1}, 1)) <= 57"
        f" THEN ascii(substr(h16, {i + 1}, 1)) - 48"
        f" ELSE ascii(substr(h16, {i + 1}, 1)) - 87 END"
    )
    vcols = ", ".join(f"{hexv(i)} AS v{i}" for i in range(16))
    bsums = ", ".join(
        f"SUM(2 * ((v{k // 4} >> {k % 4}) & 1) - 1) AS b{k}" for k in range(64)
    )
    fbits = " + ".join(
        f"CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END" for k in range(63)
    )
    fbits += f" + CASE WHEN b63 > 0 THEN {_MIN_LONG} ELSE 0 END"
    return f"""
    sw AS (SELECT {id_col}, unnest({words_sql}) AS word FROM {table}),
    hx AS (SELECT {id_col}, substr(md5(word), 1, 16) AS h16 FROM sw),
    hv AS (SELECT {id_col}, {vcols} FROM hx),
    sb AS (SELECT {id_col}, {bsums} FROM hv GROUP BY {id_col}),
    fp0 AS (SELECT {id_col}, CAST({fbits} AS BIGINT) AS simhash FROM sb),
    fp AS (SELECT d.{id_col}, COALESCE(fp0.simhash, 0) AS simhash
           FROM {table} d LEFT JOIN fp0 USING ({id_col}))
    """


def simhash_pairs(docs: DataFrame, max_hamming: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by Hamming distance, blocked on the high 16 bits
    (docs differing there can still be near-dups — standard multi-probe
    uses 4 rotations; one block kept here for clarity). Block id uses
    arithmetic-shift+mask, which both engines evaluate identically."""
    sh = simhash64(docs, id_col)
    blocked = sh.withColumn(
        "block", F.shiftright(F.col("simhash"), 48).bitwiseAND(F.lit(0xFFFF))
    )
    a = blocked.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("h_a"), "block")
    b = blocked.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("h_b"), "block")
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Semantic near-dup: pairs with cosine ≥ threshold.

    Exact all-pairs here (fine for dims up to ~10⁴ rows); the 100 TB
    path is operators/similarity.py's LSH-bucketed variant — same
    output columns, candidate generation swapped.
    """
    from oxi_diel_db_spark.functions.vectors import as_double, norm, pandas_dot

    # norms are a per-VECTOR quantity: precompute before the pair join;
    # the per-pair dot runs as an Arrow-batched einsum (pandas_dot) —
    # a Catalyst fold over 2M pairs × 64 dims measured 40s, this ~3s
    base = emb.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    a = base.select(
        F.col(id_col).alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col(id_col).alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = pandas_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_neardup_pairs_blocked(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine via BLOCK MATMUL — the scalable shape.

    The naive pair join materializes O(N²) rows each carrying two full
    vectors (2 GB through the shuffle at just 2,000×64). Blocking ships
    each vector n_blocks times instead of N times: vectors group into
    n_blocks buckets, the n_blocks² bucket PAIRS fan out, and one numpy
    GEMM per bucket pair scores all its cosines at BLAS speed. Output
    values match the per-pair formula (norms divided after the GEMM);
    14s → ~2s at sf0.1, and the win grows quadratically with N.
    """
    import numpy as np
    import pandas as pd

    from oxi_diel_db_spark.functions.vectors import as_double, norm

    base = emb.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v"))).withColumn(
        "block", (F.col("vid") % n_blocks).cast("int")
    )
    packed = base.groupBy("block").agg(
        F.collect_list(F.struct("vid", "v", "nrm")).alias("rows")
    )
    a = packed.select(F.col("block").alias("ba"), F.col("rows").alias("ra"))
    b = packed.select(F.col("block").alias("bb"), F.col("rows").alias("rb"))
    combos = a.crossJoin(b).filter(F.col("ba") <= F.col("bb"))

    def _score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ra, rb, ba, bb in zip(pdf["ra"], pdf["rb"], pdf["ba"], pdf["bb"]):
                ida = np.array([r["vid"] for r in ra])
                idb = np.array([r["vid"] for r in rb])
                ma = np.stack([np.asarray(r["v"], dtype=np.float64) for r in ra])
                mb = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rb])
                na = np.array([r["nrm"] for r in ra])
                nb = np.array([r["nrm"] for r in rb])
                cos = (ma @ mb.T) / np.outer(na, nb)
                cos = np.round(cos, 6) + 0.0
                ii, jj = np.where(cos >= threshold)
                va, vb, vc = ida[ii], idb[jj], cos[ii, jj]
                # canonical (low, high) pair; drop self-pairs; within a
                # same-block combo each unordered pair appears twice —
                # keep the va<vb orientation only
                if ba == bb:
                    keep = va < vb
                else:
                    keep = va != vb
                va, vb, vc = va[keep], vb[keep], vc[keep]
                lo = np.minimum(va, vb)
                hi = np.maximum(va, vb)
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
                out_c.extend(vc.tolist())
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos": out_c})

    return combos.mapInPandas(
        _score, schema="vec_a long, vec_b long, cos double"
    )


def _driver_union_find(spark, rows, src_type: str) -> DataFrame:
    """Small-graph fast path for dedup_clusters: min-label union-find on
    the driver over the collected raw ``(src, dst)`` pair rows. The
    NEAR-DUP PAIR graph is a contraction of the corpus — at sf0.1 it is
    ~500 nodes while the corpus is 50k docs — and running O(log d)
    distributed rounds (~3 jobs/round of 32-task stages) over a few
    hundred rows is pure scheduler overhead (measured 1.9 s vs ~0.1 s
    here). The rows need no symmetrizing or distinct: a duplicate, a
    reversed pair or a self-loop leaves the union-find unchanged.
    Identical fixpoint: path-compressed union by min root == min label
    propagation (each component's label is its minimum node id).

    The labels come back as a ``LocalRelation`` (built from a pyarrow
    Table): its size is known to the optimizer, so every caller's join
    against the cluster table can broadcast it instead of sort-merge
    joining an RDD of unknown size."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root → root IS the cluster label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    table = pa.table({"doc_id": nodes, "cluster_id": [find(n) for n in nodes]})
    return spark.createDataFrame(table, f"doc_id {src_type}, cluster_id {src_type}")


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    small_graph_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc in a
    transitively-connected group gets the group's MINIMUM doc id as its
    cluster id — the clustering step that turns pairwise dedup output
    into keep-one-per-cluster decisions (a pair list alone under-deletes:
    A~B and B~C must collapse to ONE survivor, not two).

    Algorithm: iterative min-label propagation (the DataFrame form of
    GraphX connectedComponents) plus a pointer-doubling step each round
    (label ← label-of-label), so convergence is O(log diameter) rounds
    rather than diameter — a 1M-node path graph converges in ~20 rounds
    instead of 1M. Each round is two shuffles on node id; the driver
    only checks a convergence count. Deterministic: min() over ids has
    a unique fixpoint regardless of partitioning or iteration order.

    Raises RuntimeError if max_iters rounds pass without convergence
    (returning partially-converged labels would silently split clusters
    and under-delete — ADVICE r1).

    Adaptive: the raw ``(a, b)`` pairs are materialized once, and the
    driver collects at most ``small_graph_max_edges + 1`` of them — the
    bound counts those raw rows (duplicates and both orientations
    included), not symmetrized distinct edges. At most
    ``small_graph_max_edges`` rows means clustering runs as a
    driver-side min-label union-find on the collected rows (see
    _driver_union_find) — the pair graph is a contraction of the corpus
    and at test scales the distributed loop is pure fixed cost. At
    100 TB pair counts can reach billions; then the bound fails, the
    materialized pairs are symmetrized and distinct-ed (the pair
    pipeline does not run again) and the O(log diameter) distributed
    loop below runs, with a FRONTIER optimization: a round's
    neighbor-min join only reads edges whose dst changed in the previous
    round (labels are monotone non-increasing, so unchanged neighbors
    can contribute nothing new), which drops fully-converged components
    out of the join entirely. ``small_graph_max_edges=0`` forces the
    distributed loop on any non-empty input.
    """
    raw = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        # materialize ONCE: both paths read the pairs from here, and
        # without it the distributed loop replays the whole upstream
        # pair-generation pipeline every round (for LSH input: shingle
        # → minhash → banded join — measured 12 s vs 4 s for d8 at
        # sf0.1). Same reliable-checkpoint() swap note as graph.py
        # applies on a real cluster.
        .localCheckpoint(eager=True)
    )
    # one bounded collect decides the path AND feeds the fast path —
    # no count() probe over the pairs
    rows = raw.limit(small_graph_max_edges + 1).collect()
    if len(rows) <= small_graph_max_edges:
        return _driver_union_find(pairs.sparkSession, rows, dict(raw.dtypes)["src"])
    edges = (
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # every round joins the edge list
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    frontier = None  # nodes whose label changed last round (None = all)
    converged = False
    for _ in range(max_iters):
        # frontier pruning: new information only flows FROM nodes whose
        # label shrank last round; since update is least(old, nbr_min),
        # dropping no-news edges cannot change the fixpoint.
        round_edges = (
            edges
            if frontier is None
            else edges.join(frontier, edges.dst == frontier.chg, "leftsemi")
        )
        neighbor_min = (
            round_edges.join(labels, round_edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
        )
        # pointer doubling: label ← label's current label. Each round
        # halves every label-chain, so long thin components converge in
        # O(log diameter) rounds instead of O(diameter).
        lab2 = updated.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
        updated = (
            updated.join(lab2, updated.label == lab2.n2, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("l2"), F.col("label"))
                ).alias("label"),
                (F.col("__changed") | (F.col("l2") < F.col("label"))).alias(
                    "__changed"
                ),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # truncate the lineage
        frontier = updated.filter(F.col("__changed")).select(
            F.col("node").alias("chg")
        )
        n_changed = frontier.count()
        labels = updated.select("node", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: no convergence after {max_iters} rounds — "
            "component diameter exceeds 2^max_iters; raise max_iters"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def ngram_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    distinct word n-grams appear anywhere in the benchmark corpus
    (eval-set leakage scan). Returns (id, n_ngrams, n_shared,
    contamination) — contamination = n_shared / n_ngrams.

    Scale shape: the benchmark n-gram set is distinct-collapsed and
    hashed to 8-byte xxhash64 ints, then BROADCAST to the training
    side — eval suites are tiny next to a training corpus, so the
    100 TB scan never shuffles on the join. Training totals are exact
    string counts; only the membership probe rides the hash (a false
    hit needs a cross-corpus xxhash64 collision, ~2^-64/pair)."""
    # Plan shape (reworked after the sf0.1 sweep showed 14 s here):
    # per-doc n-gram sets via array_distinct — NO global (doc, ngram)
    # distinct exchange — with n_ngrams carried alongside the explode
    # so totals and hits ride ONE pass of the chain and ONE final
    # groupBy(id); the earlier totals/hits two-branch form executed
    # the whole regex/shingle chain twice. Words materialized as their
    # own projection (the no-CSE-across-HOF pitfall). 14 s → ~3 s at
    # sf0.1; semantics unchanged (hash gate green).
    # fanout (r13 opt): both regex/shingle chains below otherwise run at
    # scan parallelism (one task on the gate file); identity at scale
    be = (
        fanout(bench, id_col).select(F.col(text_col))
        .select(norm_words(text_col).alias("__w"))
        .select(F.explode(shingles(F.col("__w"), n)).alias("ng"))
        .select(F.xxhash64("ng").alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ex = (
        fanout(train, id_col).select(F.col(id_col), norm_words(text_col).alias("__w"))
        .select(
            F.col(id_col),
            F.array_distinct(shingles(F.col("__w"), n)).alias("__ngs"),
        )
        .select(
            F.col(id_col),
            F.size("__ngs").cast("long").alias("__n"),
            # explode_OUTER on purpose: inner explode makes
            # InferFiltersFromGenerate synthesize a size()>0 filter
            # whose alias substitution re-inlines the whole
            # regex/shingle/array_distinct chain into the scan filter —
            # measured 14 s vs 0.8 s on this exact chain at sf0.1.
            # Empty docs yield one null-ng row, removed by the post-agg
            # HAVING below (cannot push back down: n_ngrams is an
            # aggregate output).
            F.explode_outer("__ngs").alias("ng"),
        )
    )
    probe = ex.join(
        F.broadcast(be), F.xxhash64(F.col("ng")) == F.col("h"), "left"
    )
    return (
        probe.groupBy(id_col)
        .agg(
            F.any_value("__n").alias("n_ngrams"),
            F.count("__hit").cast("long").alias("n_shared"),
            (F.count("__hit") / F.any_value("__n")).alias("contamination"),
        )
        .filter(F.col("n_ngrams") > 0)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    C(A,B) = |A ∩ B| / min(|A|, |B|).

    Jaccard misses the "small doc embedded in a big doc" case — a
    200-word page quoted whole inside a 20k-word page has J ≈ 0.01 but
    C = 1.0. Containment is the standard companion metric (Broder's
    resemblance/containment pair) and the one that catches boilerplate
    wrappers and quote-expansion dups in a training corpus.

    Same inverted-index candidate shape as :func:`ngram_jaccard_pairs`
    (only pairs sharing ≥1 shingle materialize; shingles ride as
    xxhash64 ints so every shuffle moves 8-byte keys). At 100 TB apply
    the same ``max_doc_freq`` posting-list cap before the self-join;
    capping lower-bounds the intersection, so it is conservative here
    exactly as it is for Jaccard.
    """
    sh = doc_shingles(docs, id_col, text_col, n, hashed=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    cont = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 10,
) -> DataFrame:
    """C4-style duplicate-SPAN removal: chunk every document into
    consecutive ``span``-word windows, and across the WHOLE corpus keep
    only the first occurrence of each distinct span (first = lowest
    (doc_id, position)); every other occurrence is cut from its
    document. Catches the sub-document duplication (boilerplate
    headers, syndicated paragraphs) that doc-level dedup (d1/d3) never
    sees. C4 did this with three-sentence spans; the corpus here has no
    sentence boundaries, so fixed word windows play that role.

    Returns (id, n_spans, n_kept, kept_fp) where kept_fp is the md5 of
    the surviving text (spans re-joined in document order) — compact
    enough to hash-gate without shipping full texts.

    Scale shape: one shuffle to group occurrences by span key (md5 of
    the span — 32-byte keys instead of ~60-byte word windows), a
    co-partitioned join back on the same key, then a doc_id groupBy for
    reassembly. Nothing is quadratic: a span duplicated d times costs
    d rows in one group, not d² pairs. The winner rank packs
    (doc_id, pos) into one BIGINT (pos < 2^20 — documents are bounded
    at a few KB; at larger docs widen the shift), so the argmin is a
    plain MIN both here and in the DuckDB twin.
    """
    # fanout (r13 opt) replaces the unconditional repartition: identity
    # at real scale instead of an always-on text shuffle
    w = fanout(docs, id_col).select(
        F.col(id_col), norm_words(text_col).alias("__w")
    )
    nspans = F.ceil(F.size("__w") / F.lit(span)).cast("int")
    spans_arr = F.when(
        F.size("__w") > 0,
        F.transform(
            F.sequence(F.lit(0), nspans - 1),
            lambda i: F.concat_ws(" ", F.slice("__w", i * span + 1, span)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # posexplode_OUTER: the inner form makes InferFiltersFromGenerate
    # synthesize a size()>0 scan filter that re-inlines the span
    # transform chain (measured 2× at 500k docs). Empty docs emit one
    # null row which the winners equi-join drops (null keys never
    # match) — the final left join restores them either way.
    occ = (
        w.select(F.col(id_col), F.posexplode_outer(spans_arr))
        .withColumnRenamed("col", "span_text")
        .withColumn("span_key", F.md5("span_text"))
        .withColumn("rank", F.col(id_col).cast("long") * 1048576 + F.col("pos"))
    )
    winners = occ.groupBy("span_key").agg(F.min("rank").alias("keep_rank"))
    kept = occ.join(winners, "span_key").withColumn(
        "kept", F.col("rank") == F.col("keep_rank")
    )
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "span_text"))
                        )
                    ),
                    lambda s: s.span_text,
                ),
                " ",
            )
        ).alias("kept_fp"),
    )
    empty_fp = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("kept_fp", F.lit(empty_fp)).alias("kept_fp"),
        )
    )


def sql_span_dedup(span: int = 10, table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`span_dedup` (same md5 span keys, same
    packed-rank argmin, same ordered reassembly)."""
    from oxi_diel_db_spark.functions.text import SQL_NORM_WORDS

    words = SQL_NORM_WORDS.format(t="text")
    return f"""
    WITH w AS (SELECT {id_col}, {words} AS words FROM {table}),
    occ AS (
      SELECT {id_col},
             i - 1 AS pos,
             array_to_string(words[(i - 1) * {span} + 1 : i * {span}], ' ') AS span_text,
             md5(array_to_string(words[(i - 1) * {span} + 1 : i * {span}], ' ')) AS span_key,
             {id_col}::BIGINT * 1048576 + (i - 1) AS rank
      FROM w, LATERAL unnest(range(1, CAST(ceil(len(words) / {span}.0) AS BIGINT) + 1)) AS u(i)
      WHERE len(words) > 0
    ),
    winners AS (SELECT span_key, MIN(rank) AS keep_rank FROM occ GROUP BY span_key),
    kept AS (
      SELECT occ.*, occ.rank = w2.keep_rank AS kept
      FROM occ JOIN winners w2 USING (span_key)
    ),
    per_doc AS (
      SELECT {id_col},
             COUNT(*) AS n_spans,
             CAST(COALESCE(SUM(CASE WHEN kept THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
             md5(array_to_string(
               COALESCE(list(span_text ORDER BY pos) FILTER (WHERE kept), []), ' '))
               AS kept_fp
      FROM kept GROUP BY {id_col}
    )
    SELECT d.{id_col},
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_kept, 0) AS n_kept,
           COALESCE(p.kept_fp, md5('')) AS kept_fp
    FROM {table} d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (the d9 scale path)
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 16  # filter width (bits); size to eval-suite n-grams
BLOOM_K = 3  # hash functions


def _bloom_pos(hcol, slot: int):
    """Bit position in [0, BLOOM_M_BITS): hex chars [4·slot+1, 4·slot+4]
    of an md5 hex column → 16-bit int. ONE md5 per n-gram feeds all
    BLOOM_K positions (standard double-hashing economics: the 128-bit
    digest has 8 independent 16-bit slices, and md5 is the expensive
    step — slicing measured ~2× over per-seed re-hashing at 500k docs).
    conv() equals the DuckDB twin's ascii-decode of the same chars."""
    return F.conv(F.substring(hcol, 4 * slot + 1, 4), 16, 10).cast("long")


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the scale path of
    :func:`ngram_decontaminate` for when even the DISTINCT benchmark
    n-gram set is too wide to broadcast as exact 8-byte hashes: the
    filter is a fixed BLOOM_M_BITS bits (1024 longs here) regardless of
    benchmark size. One-sided error only — every truly shared n-gram is
    flagged (no false negatives), plus a tunable false-positive tail
    (~fill_ratio^k per probe) — i.e. it can only OVER-quarantine, which
    is the safe direction for decontamination.

    Everything is deterministic md5 bit math, so unlike textbook Bloom
    implementations this one is value-hash checked against a DuckDB
    twin computing the identical filter (see :func:`sql_bloom_ctes`).

    Scale shape: the filter is built by a DISTRIBUTED groupBy(word_idx)
    bit_or over the benchmark, then its ≤1024 longs are collected (a
    bounded index-build read, same budget class as the ANN centroid
    collects in operators/similarity.py) and inlined as ONE literal
    array. The 100 TB training probe is then ZERO-shuffle: per-doc
    n-gram sets come from array_distinct (local, no (doc, ngram)
    explode+distinct exchange — that exchange was 80% of the runtime
    of an earlier join-based formulation at 500k docs), and the k bit
    tests run inside a higher-order array filter against the literal
    words (variable bit masks via a 64-entry literal lookup, since
    shiftleft-by-column isn't in the Python API). Every training row
    maps straight to its output row — the probe adds NO exchange to
    whatever scan produced the corpus. Size BLOOM_M_BITS ≈ 16× expected
    benchmark n-grams to hold FP ≈ (fill)³ well under 1%.
    """
    n_words = BLOOM_M_BITS // 64
    # fanout (r13 opt): the filter-build regex/shingle chain otherwise
    # runs at scan parallelism; identity at real scale
    be = (
        fanout(bench, id_col)
        .select(F.explode(shingles(norm_words(F.col(text_col)), n)).alias("ng"))
        .distinct()
    )
    seeds = F.explode(F.array(*[F.lit(s) for s in range(BLOOM_K)])).alias("seed")
    bpos = _bloom_pos(F.col("h"), 0)
    for s in range(1, BLOOM_K):
        bpos = F.when(F.col("seed") == s, _bloom_pos(F.col("h"), s)).otherwise(bpos)
    bloom_rows = (
        be.select(F.md5("ng").alias("h"), seeds)
        .withColumn("pos", bpos)
        .select(
            F.floor(F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()  # bounded: ≤ BLOOM_M_BITS/64 rows (the filter itself)
    )
    bits_words = [0] * n_words
    for r in bloom_rows:
        bits_words[r["word_idx"]] = r["bits"]

    # ONE F.expr parse per array: building these via F.array(*[F.lit..])
    # is ~1100 py4j round-trips (~4 s of pure driver overhead per query
    # build, measured); a single SQL array literal parses JVM-side.
    def _sql_long(v: int) -> str:
        return "(-9223372036854775807L - 1L)" if v == _MIN_LONG else f"{v}L"

    bits_arr = F.expr(f"array({','.join(_sql_long(b) for b in bits_words)})")
    masks = F.expr(
        "array("
        + ",".join(_sql_long(_MIN_LONG if b == 63 else 1 << b) for b in range(64))
        + ")"
    )

    def _hit(h, s: int):
        pos = _bloom_pos(h, s)
        word = F.element_at(bits_arr, F.floor(pos / 64).cast("int") + 1)
        mask = F.element_at(masks, F.pmod(pos, 64).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    def _all_hit(h):
        cond = _hit(h, 0)
        for s in range(1, BLOOM_K):
            cond = cond & _hit(h, s)
        return cond

    # THREE materialization steps, per the _exploded_shingles lesson
    # (no CSE across higher-order-function boundaries): words array,
    # then the distinct n-gram set, then its md5s — so the regex runs
    # once, each n-gram is hashed once, and the filter lambda only
    # does conv-slices + two array lookups per slot.
    # fanout (r13 opt): the zero-shuffle probe is exactly why the scan's
    # parallelism is the ONLY parallelism this chain ever gets — at gate
    # scale that is one task; identity at real scale
    base = (
        fanout(train, id_col)
        .select(F.col(id_col), norm_words(text_col).alias("__w"))
        .select(
            F.col(id_col),
            F.array_distinct(shingles(F.col("__w"), n)).alias("__ngs"),
        )
        .select(
            F.col(id_col),
            F.transform(F.col("__ngs"), lambda ng: F.md5(ng)).alias("__hs"),
        )
    )
    return base.select(
        F.col(id_col),
        F.size("__hs").cast("long").alias("n_ngrams"),
        F.size(F.filter(F.col("__hs"), _all_hit)).cast("long").alias("n_flagged"),
    ).select(
        id_col,
        "n_ngrams",
        "n_flagged",
        F.round(
            F.coalesce(
                F.col("n_flagged") / F.nullif(F.col("n_ngrams"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("bloom_ratio"),
    )


def sql_bloom_ctes(
    train_sql: str, bench_sql: str, n: int = 3, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`bloom_decontaminate`: builds the identical
    BLOOM_M_BITS filter (same md5-hex4 positions, same bit_or words)
    and probes it. ``train_sql`` / ``bench_sql`` must select
    (id, text). Ends in CTE ``bloomed(id, n_ngrams, n_flagged,
    bloom_ratio)``."""
    from oxi_diel_db_spark.functions.text import SQL_NORM_WORDS, sql_shingles

    words = SQL_NORM_WORDS.format(t="text")
    dec = lambda i: (  # noqa: E731  — hex char i (1-based) of h4 → 0..15
        f"CASE WHEN ascii(substr(h4, {i}, 1)) <= 57"
        f" THEN ascii(substr(h4, {i}, 1)) - 48"
        f" ELSE ascii(substr(h4, {i}, 1)) - 87 END"
    )
    pos = f"((({dec(1)}) * 16 + ({dec(2)})) * 16 + ({dec(3)})) * 16 + ({dec(4)})"
    mask = (
        "CASE WHEN pos % 64 = 63 THEN -9223372036854775808 "
        "ELSE (1::BIGINT << CAST(pos % 64 AS INT)) END"
    )
    return f"""
    btr AS (
      SELECT DISTINCT {id_col}, ng FROM (
        SELECT {id_col}, unnest({sql_shingles('words', n)}) AS ng FROM (
          SELECT {id_col}, {words} AS words FROM ({train_sql})
          WHERE len({words}) >= {n}
        )
      )
    ),
    bbe AS (
      SELECT DISTINCT unnest({sql_shingles('words', n)}) AS ng FROM (
        SELECT {words} AS words FROM ({bench_sql})
        WHERE len({words}) >= {n}
      )
    ),
    bpos_b AS (
      SELECT {pos} AS pos FROM (
        SELECT substr(h, CAST(seed * 4 + 1 AS INT), 4) AS h4 FROM (
          SELECT md5(ng) AS h FROM bbe
        ) CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS seed) s
      )
    ),
    bloom AS (
      SELECT CAST(FLOOR(pos / 64) AS INT) AS word_idx, bit_or({mask}) AS bits
      FROM bpos_b GROUP BY 1
    ),
    tpos AS (
      SELECT {id_col}, ng, pos,
             CAST(FLOOR(pos / 64) AS INT) AS word_idx, {mask} AS mask
      FROM (
        SELECT {id_col}, ng, {pos} AS pos FROM (
          SELECT {id_col}, ng, substr(h, CAST(seed * 4 + 1 AS INT), 4) AS h4
          FROM (SELECT {id_col}, ng, md5(ng) AS h FROM btr)
          CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS seed) s
        )
      )
    ),
    probed AS (
      SELECT {id_col}, ng,
             MIN(CASE WHEN b.bits IS NOT NULL AND (b.bits & t.mask) <> 0
                 THEN 1 ELSE 0 END) AS all_hit
      FROM tpos t LEFT JOIN bloom b USING (word_idx)
      GROUP BY {id_col}, ng
    ),
    bflags AS (
      SELECT {id_col}, COUNT(*) AS n_ngrams,
             CAST(SUM(all_hit) AS BIGINT) AS n_flagged
      FROM probed GROUP BY {id_col}
    ),
    bloomed AS (
      SELECT d.{id_col},
             COALESCE(f.n_ngrams, 0) AS n_ngrams,
             COALESCE(f.n_flagged, 0) AS n_flagged,
             ROUND(COALESCE(f.n_flagged / NULLIF(f.n_ngrams, 0), 0.0), 6)
               AS bloom_ratio
      FROM (SELECT DISTINCT {id_col} FROM ({train_sql})) d
      LEFT JOIN bflags f USING ({id_col})
    )
    """


def band_hash_expr(k: int = N_MINHASH, bands: int = N_BANDS):
    """The banded-LSH bucket keys as ONE array expression over a
    ``sig`` column: bh[b] = md5(concat of the band's signature slice).
    Shared by the batch (minhash_lsh_pairs / incremental_lsh_pairs)
    and streaming (st22) faces so the bucket rule cannot drift."""
    rows = k // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                "",
                *[
                    F.element_at(F.col("sig"), (b * rows + r + 1).cast("int"))
                    for r in range(rows)
                ],
            )
        ),
    )


def sig_est_jaccard(k: int = N_MINHASH):
    """Signature-agreement Jaccard estimate over sig_a/sig_b columns —
    the d3/d14/st22 shared estimator (round before threshold)."""
    return (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(k))
    )


def incremental_lsh_pairs(
    new: DataFrame,
    existing: DataFrame,
    threshold: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
) -> DataFrame:
    """INCREMENTAL near-dup detection — the production shape of d3:
    a new ingest batch is checked against the EXISTING corpus without
    re-pairing the corpus against itself. The banded join is
    asymmetric (new × existing only), so a daily increment of n_new
    docs costs O(n_new · bands) bucket probes against the corpus's
    bucket table instead of the full self-join — at 100 TB the
    existing side's signatures/buckets are computed once at ingest
    and PERSISTED (here they are derived in-query so the oracle can
    replay them; the signature math is identical either way).

    Returns (new_id, existing_id, est_jaccard ≥ threshold). Same
    md5-based MinHash as d3 → fully value-hash-checkable.
    """
    band_hash = band_hash_expr(k, bands)

    def banded(docs):
        sig = minhash_signatures(docs, id_col, text_col, k).persist()
        return sig, sig.select(
            id_col, F.posexplode(band_hash).alias("band", "bh")
        )

    sig_n, band_n = banded(new)
    sig_e, band_e = banded(existing)
    cand = (
        band_n.select(F.col(id_col).alias("new_id"), "band", "bh")
        .join(
            band_e.select(F.col(id_col).alias("existing_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("new_id", "existing_id")
        .distinct()
    )
    sa = sig_n.select(F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a"))
    sb = sig_e.select(
        F.col(id_col).alias("existing_id"), F.col("sig").alias("sig_b")
    )
    est = sig_est_jaccard(k)
    return (
        cand.join(sa, "new_id")
        .join(sb, "existing_id")
        .select("new_id", "existing_id", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def hamming_neardup_pairs(
    hashed: DataFrame,
    hash_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-match pairs over ANY 64-bit fingerprint column (SimHash,
    mm8's image aHash, …) with a PIGEONHOLE guarantee: split the hash
    into ``bands`` contiguous bit-bands and join on each band exactly —
    two hashes within Hamming distance < bands must agree on at least
    one whole band, so with bands = max_hamming + 1 no qualifying pair
    can be missed (unlike simhash_pairs' single high-bits block, which
    trades recall for one shuffle). Cost: ``bands`` self-joins on
    short integer keys, then exact bit_count verification — candidate
    volume is governed by band-collision rates, never all-pairs."""
    if bands < max_hamming + 1:
        raise ValueError("pigeonhole guarantee needs bands > max_hamming")
    width = 64 // bands
    mask = (1 << width) - 1
    h = F.col(hash_col)
    banded = hashed.select(
        F.col(id_col),
        h.alias("__h"),
        *[
            F.shiftrightunsigned(h, i * width).bitwiseAND(F.lit(mask)).alias(f"__b{i}")
            for i in range(bands)
        ],
    )
    cands = None
    for i in range(bands):
        a = banded.select(
            F.col(id_col).alias("id_a"), F.col("__h").alias("h_a"), f"__b{i}"
        )
        b = banded.select(
            F.col(id_col).alias("id_b"), F.col("__h").alias("h_b"), f"__b{i}"
        )
        c = (
            a.join(b, f"__b{i}")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h_a", "h_b")
        )
        cands = c if cands is None else cands.unionByName(c)
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cands.distinct()
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
