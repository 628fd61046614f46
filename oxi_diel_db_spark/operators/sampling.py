"""Reproducible sampling / shuffling / packing for training-data
pipelines (north star).

The common thread: randomness comes from **content hashes**
(md5 of seed:key), never from RNG state — so results are identical
across runs, engines, partitionings, and cluster sizes. `df.sample()`
can't promise that (partition-dependent); hash-gating can, and it
composes with incremental ingest (a re-run over grown data keeps every
previous decision).

Implementation detail that keeps every op oracle-checkable: the hash
is used as its lowercase-hex STRING — lexicographic order on fixed-
width hex equals numeric order, and string comparison is identical in
every engine, so no integer conversion is ever needed.

* hash_sample            — keep rows where hex8(md5) < hex8(rate·2^32).
* stratified_hash_sample — per-stratum thresholds, same gate.
* deterministic_shuffle  — global rank by the hash: a reproducible
  permutation, computed scale-out (bucketed two-pass, below).
* pack_sequences         — greedy streaming packing of documents into
  fixed-token-budget bins in shuffle order: running cumsum of clamped
  token counts, bin id = floor((cumsum - tokens)/budget).

Global-order scalability: a bare ``ROW_NUMBER() OVER (ORDER BY h)`` /
global cumsum window collapses every row into ONE partition — fine at
test scale, fatal at 100 TB. Both order-dependent ops here instead use
a **deterministic bucketed two-pass**: bucket = integer value of the
first k hex chars of the hash (a PREFIX of the sort key, so
(bucket, h, key) order ≡ (h, key) order, and bucketing needs no
data-dependent range sampling); pass 1 aggregates one count/sum per
bucket (map-side-combined, 16^k rows); offsets = exclusive prefix sum
over that tiny table (single-partition window over ≤16^k rows — the
data itself never single-partitions); pass 2 broadcast-joins the
offsets back and ranks/cumsums WITHIN each bucket. Output is
bit-identical to the global window at every cluster size. Cost: the
input is scanned twice (cache/persist upstream if it is expensive to
recompute)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_hex8(key, seed: int) -> Column:
    """First 8 hex chars of md5('seed:key') — a uniform [0, 2^32) draw
    rendered as a sortable fixed-width string."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string"))), 1, 8
    )


def sql_hash_hex8(key: str, seed: int) -> str:
    return f"substring(md5('{seed}:' || CAST({key} AS VARCHAR)), 1, 8)"


def rate_threshold(rate: float) -> str:
    """hex8 threshold such that P(hash < threshold) ≈ rate."""
    return format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")


def hash_sample(df: DataFrame, key: str, rate: float, seed: int = 42) -> DataFrame:
    """Keep ~rate of rows, decided by content hash — reproducible and
    stable under data growth."""
    return df.filter(hash_hex8(key, seed) < F.lit(rate_threshold(rate)))


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float], seed: int = 42
) -> DataFrame:
    """Per-stratum sampling rates (e.g. downsample dominant languages),
    same hash gate. Strata absent from ``rates`` are dropped."""
    thresh = F.lit("00000000")
    for value, rate in rates.items():
        thresh = F.when(
            F.col(stratum) == value, F.lit(rate_threshold(rate))
        ).otherwise(thresh)
    return df.filter(hash_hex8(key, seed) < thresh)


def _bucket_col(h: Column, bucket_chars: int) -> Column:
    """Bucket id = numeric value of the hash's first ``bucket_chars``
    hex chars. A prefix of the sort key, so bucket order refines into
    hash order — and it is a pure function of the row (no range
    sampling, no nondeterminism between the two passes)."""
    return F.conv(F.substring(h, 1, bucket_chars), 16, 10).cast("int")


def _bucket_offsets(
    prepared: DataFrame, value: Column, within: tuple[str, ...] = ()
) -> DataFrame:
    """(bucket, exclusive-prefix-sum of ``value`` over lower buckets).
    The inner window runs over at most 16^bucket_chars aggregate rows,
    never over the data — single-partition there is intentional.
    ``within`` columns partition the prefix sum: each group gets its own
    independent bucket walk (r14: lets one plan run N per-group walks —
    identical per-group results to N separate calls by construction,
    since every aggregate/window below is keyed by the group)."""
    tot = prepared.groupBy(*within, "__b").agg(F.sum(value).alias("__n"))
    w = (
        Window.partitionBy(*within)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return tot.select(
        *within, "__b", F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off")
    )


def _join_within(
    left: DataFrame, right: DataFrame, within: tuple[str, ...], keys: list[str]
) -> DataFrame:
    """``left.join(right, [*within, *keys])`` with the ``within`` group
    columns matched null-safely: rows whose group is NULL join their own
    group's aggregates like any other group instead of being dropped, as
    a separate call over those rows would keep them. Columns come out in
    the using-join order (keys, left's other columns, right's other
    columns); without ``within`` it is the plain using-join."""
    if not within:
        return left.join(right, keys)
    ren = {c: f"__r_{c}" for c in (*within, *keys)}
    cond = [F.col(c).eqNullSafe(F.col(ren[c])) for c in within]
    cond += [F.col(c) == F.col(ren[c]) for c in keys]
    rest = [c for c in right.columns if c not in ren]
    return left.join(right.withColumnsRenamed(ren), cond).select(
        *within, *keys, *[c for c in left.columns if c not in ren], *rest
    )


def deterministic_shuffle(
    df: DataFrame, key: str, seed: int = 42, bucket_chars: int = 2
) -> DataFrame:
    """Attach a reproducible permutation rank (1..N).

    Scale-out global row-number: per-bucket counts → broadcast offsets
    → row_number within bucket + offset (see module docstring). With
    bucket_chars=2 the rank shuffle fans out over 256 hash buckets;
    use 3-4 at cluster scale (4096/65536 buckets)."""
    h = hash_hex8(key, seed)
    prepared = df.withColumn("__h", h).withColumn("__b", _bucket_col(h, bucket_chars))
    off = _bucket_offsets(prepared, F.lit(1))
    w = Window.partitionBy("__b").orderBy(F.col("__h").asc(), F.col(key).asc())
    return (
        prepared.join(F.broadcast(off), "__b")
        .withColumn("shuffle_rank", F.row_number().over(w) + F.col("__off"))
        .drop("__b", "__h", "__off")
    )


def pack_sequences(
    df: DataFrame,
    key: str,
    token_col: str,
    budget: int = 4096,
    seed: int = 42,
    bucket_chars: int = 2,
    within: tuple[str, ...] = (),
) -> DataFrame:
    """Cumsum sequence packing: consecutive docs in shuffle order are
    bucketed at budget boundaries of the running token total. Exact
    integer math → deterministic and oracle-checkable. A bin whose
    last doc straddles the boundary can exceed the budget by < that
    doc's (clamped) size — i.e. every bin total < 2·budget; use
    pack_sequences_greedy for a strict cap.

    The running total is the same bucketed two-pass as
    deterministic_shuffle: per-bucket token sums → broadcast exclusive
    offsets → within-bucket cumsum + offset. Identical bins at every
    parallelism.

    ``within`` columns run one INDEPENDENT packing walk per group in a
    single plan (r14, for c7's per-split shard walks): every aggregate,
    window and join below is additionally keyed by the group columns,
    so each group's bin_ids equal a separate pack_sequences call over
    that group — same math, one chain instead of N. A NULL group is a
    group like any other (the joins match it null-safely)."""
    h = hash_hex8(key, seed)
    clamped = F.least(F.col(token_col).cast("bigint"), F.lit(budget))
    prepared = (
        df.withColumn("__h", h)
        .withColumn("__b", _bucket_col(h, bucket_chars))
        .withColumn("__ct", clamped)
    )
    off = _bucket_offsets(prepared, F.col("__ct"), within=within)
    w = Window.partitionBy(*within, "__b").orderBy(
        F.col("__h").asc(), F.col(key).asc()
    )
    cum = (
        F.sum("__ct").over(w.rowsBetween(Window.unboundedPreceding, 0))
        + F.col("__off")
    )
    return (
        _join_within(prepared, F.broadcast(off), within, ["__b"])
        .withColumn("bin_id", F.floor((cum - F.col("__ct")) / budget))
        .drop("__b", "__h", "__ct", "__off")
    )


def pack_sequences_greedy(
    df: DataFrame,
    key: str,
    token_col: str,
    budget: int = 4096,
    seed: int = 42,
    shards: int = 1,
) -> DataFrame:
    """Exact greedy packing: a bin closes when the next doc would push
    it past the budget — every bin total ≤ budget, guaranteed.

    Sequential state → applyInPandas per shard (shard = hash prefix of
    the key; bins never span shards, so the packing parallelizes while
    staying deterministic). shards=1 for exact global order.
    """
    import pandas as pd

    h = hash_hex8(key, seed)
    prepared = df.withColumn("__h", h).withColumn(
        "__shard", (F.conv(F.substring(h, 1, 2), 16, 10) % shards).cast("int")
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__h", key]).reset_index(drop=True)
        bins, used, cur = [], 0, 0
        for tok in pdf[token_col]:
            tok = min(int(tok), budget)
            if used + tok > budget:
                cur += 1
                used = 0
            used += tok
            bins.append(cur)
        pdf["bin_id"] = [f"{int(s)}_{b}" for s, b in zip(pdf["__shard"], bins)]
        return pdf.drop(columns=["__h"])

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{schema}, __shard int, bin_id string"
    return (
        prepared.groupBy("__shard")
        .applyInPandas(_pack, schema=out_schema)
        .drop("__shard")
    )


def assign_shards(
    packed: DataFrame,
    token_col: str,
    bin_col: str = "bin_id",
    shard_budget: int = 8192,
    *,
    budget: int,
    bin_bucket: int = 65536,
    token_offset: int = 0,
    within: tuple[str, ...] = (),
) -> DataFrame:
    """Token-budget shard assignment over a packed table (pack_sequences
    output): bins are walked in ``bin_col`` order and cut into shards
    every ``shard_budget`` tokens of the running bin-total cumsum — the
    fixed-size-file export step of a training pipeline (a shard is one
    output file of ~shard_budget tokens; the WebDataset/Megatron shard
    recipe, public). A shard whose last bin straddles the boundary can
    exceed the budget by < that bin's total, mirroring pack_sequences'
    straddle rule one level up.

    ``budget`` is keyword-required with no default: it must be the SAME
    clamp pack_sequences built the bins with — a divergent default here
    would silently cut shards under a different per-doc clamp than the
    bins were packed with (r12 ADVICE).

    Scale posture: the same deterministic bucketed two-pass as
    pack_sequences, with bucket = floor(bin_id / bin_bucket) — a prefix
    of the walk order, so (bucket, bin_id) order ≡ bin_id order. Pass 1
    reduces the packed table to ONE token sum per bin (map-side
    combined; bins ≈ corpus_tokens / budget rows — 4 orders below doc
    count); the cumsum window then partitions by bin-bucket (≤
    bin_bucket rows each, never the data), and the exclusive bucket
    offsets table (bins / bin_bucket rows) broadcasts. The doc → shard
    map joins back on ``bin_col``; AQE broadcasts it when small.

    ``token_offset`` continues a ledger: tokens already exported by
    earlier flushes shift the cumsum, so an open shard keeps filling
    across flushes until its budget (the p21 incremental contract).

    ``within`` columns run one INDEPENDENT shard walk per group in a
    single plan (r14, the pack_sequences counterpart): every aggregate,
    window and join below is additionally keyed by the group columns,
    so per-group shard_ids equal separate assign_shards calls (a NULL
    group included).
    """
    clamped = F.least(F.col(token_col).cast("bigint"), F.lit(budget))
    bins = packed.groupBy(*within, bin_col).agg(F.sum(clamped).alias("__bt"))
    b = bins.withColumn("__bb", F.floor(F.col(bin_col) / bin_bucket).cast("int"))
    tot = b.groupBy(*within, "__bb").agg(F.sum("__bt").alias("__n"))
    wo = (
        Window.partitionBy(*within)
        .orderBy("__bb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.select(
        *within, "__bb", F.coalesce(F.sum("__n").over(wo), F.lit(0)).alias("__off")
    )
    w = (
        Window.partitionBy(*within, "__bb")
        .orderBy(bin_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (
        F.coalesce(F.sum("__bt").over(w), F.lit(0))
        + F.col("__off")
        + F.lit(token_offset).cast("bigint")
    )
    shard_map = _join_within(b, F.broadcast(off), within, ["__bb"]).select(
        *within,
        bin_col,
        F.floor(cum_before / shard_budget).cast("bigint").alias("shard_id"),
    )
    return _join_within(packed, shard_map, within, [bin_col])


def mix_corpora(
    df: DataFrame,
    key: str,
    source_col: str,
    weights: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Weighted corpus mixing with epoch-aware oversampling: source with
    weight w contributes floor(w) full passes over its documents plus a
    frac(w) hash-sampled partial pass, each tagged with an ``epoch``
    index. The pretraining mix step (oversample small high-quality
    sources, downsample bulk web) as one deterministic operator.

    The partial-epoch gate hashes ``seed:epoch:key``, so which docs the
    fractional pass keeps is stable across runs/engines AND independent
    across epochs. Sources not in ``weights`` are dropped. The plan is
    a union of filtered scans — no shuffle at all; the usual follow-up
    is deterministic_shuffle over (epoch, key).
    """
    max_full = max(int(w) for w in weights.values())
    parts = []
    for epoch in range(max_full + 1):
        # sources whose weight covers this epoch fully
        full = [s for s, w in weights.items() if int(w) > epoch]
        # sources whose fractional remainder lands in this epoch
        frac = {s: w - int(w) for s, w in weights.items() if int(w) == epoch and w > int(w)}
        sel = df.filter(F.col(source_col).isin(list(full) + list(frac)))
        if not full and not frac:
            continue
        gate = F.lit(False)
        for s in full:
            gate = gate | (F.col(source_col) == s)
        for s, r in frac.items():
            gate = gate | (
                (F.col(source_col) == s)
                & (
                    hash_hex8(F.concat_ws(":", F.lit(str(epoch)), F.col(key).cast("string")), seed)
                    < F.lit(rate_threshold(r))
                )
            )
        parts.append(sel.filter(gate).withColumn("epoch", F.lit(epoch)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def capped_sample_per_key(
    df: DataFrame,
    key: str,
    id_col: str,
    max_rows: int,
    seed: int = 42,
) -> DataFrame:
    """Reproducible per-key reservoir: keep at most ``max_rows`` rows
    per key, chosen by content-hash rank (NOT arrival order). The
    contribution-capping pass of a training pipeline — no single
    user/source/domain may dominate — with the same stability
    guarantees as hash_sample: the kept set is identical across runs,
    engines, partitionings, and (for keys under the cap) data growth.
    One shuffle on the key; the rank never materializes more than the
    window needs."""
    w = Window.partitionBy(key).orderBy(
        hash_hex8(id_col, seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= max_rows)
        .drop("__rk")
    )


def weighted_sample(
    df: DataFrame, key: str, weight: str, k: int, seed: int = 42
) -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis–Spirakis
    A-ExpJ): per-row sort key −ln(u)/w with u a deterministic hash draw
    — keep the k smallest. Inclusion probability scales with weight,
    the draw re-derives identically across runs/engines/cluster sizes
    (same md5 discipline as hash_sample), and the global top-k compiles
    to TakeOrderedAndProject: per-partition heaps of size k, no global
    sort — the only data movement is k rows per partition.

    Output carries the rounded sort key (cross-engine ln() can differ
    in the last ulp; round-9 absorbs it, and a selection flip would
    need a key tie at 1e-16 — negligible against typical key gaps).

    NULL / non-positive weights are excluded up front: weight 0 means
    "never select", but its sort key would be ±Inf/NULL and Spark sorts
    NULLs FIRST ascending (DuckDB defaults NULLS LAST) — filtering is
    both the correct semantics and the only cross-engine-stable one."""
    v = F.conv(hash_hex8(key, seed), 16, 10).cast("long")
    u = (v + F.lit(0.5)) / F.lit(4294967296.0)
    skey = -F.log(u) / F.col(weight)
    return (
        df.filter(F.col(weight) > 0)
        .withColumn("sample_key", F.round(skey, 9) + F.lit(0.0))
        .orderBy(skey.asc(), F.col(key).asc())
        .limit(k)
    )


def sql_weighted_sample(key: str, weight: str, k: int, seed: int) -> str:
    """DuckDB twin of weighted_sample over the documents table —
    identical hash draw, identical key formula, identical weight>0
    guard."""
    h = sql_hash_hex8(key, seed)
    u = f"(CAST('0x' || {h} AS UBIGINT) + 0.5) / 4294967296.0"
    return f"""
    SELECT *, ROUND(-ln({u}) / {weight}, 9) + 0 AS sample_key
    FROM documents
    WHERE {weight} > 0
    ORDER BY -ln({u}) / {weight}, {key}
    LIMIT {k}
    """


def temperature_sample(
    df: DataFrame, key: str, stratum: str, alpha: float = 0.7, seed: int = 42
) -> DataFrame:
    """Temperature-scaled corpus rebalancing (the multilingual sampling
    rule of the mBERT/XLM-R line: sample stratum l proportional to
    p_l^alpha). Per-stratum keep-rate = (p_l / p_min)^(alpha-1) — the
    rarest stratum keeps everything, dominant strata are downsampled
    toward the alpha-tempered distribution. Rates are DERIVED FROM THE
    DATA (one tiny count aggregate, broadcast back), then applied
    through the reproducible md5 gate; the rate is rounded to 6 dp
    before the comparison so the gate is bit-deterministic across
    engines. Two narrow passes at any scale: count per stratum, then a
    broadcast-joined filter on the corpus scan."""
    n = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("__n"))
    tot = n.agg(F.sum("__n").alias("__t"), F.min("__n").alias("__m"))
    rates = n.crossJoin(F.broadcast(tot)).select(
        stratum,
        F.round(
            F.pow(F.col("__n") / F.col("__m"), F.lit(alpha - 1.0)), 6
        ).alias("keep_rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(seed), F.col(key))), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    return df.join(F.broadcast(rates), stratum).filter(u < F.col("keep_rate"))


def pack_multimodal_greedy(
    df: DataFrame,
    key: str,
    token_col: str,
    patch_col: str,
    token_budget: int = 1024,
    patch_budget: int = 576,
    seed: int = 42,
    shards: int = 1,
) -> DataFrame:
    """Two-budget greedy packing for interleaved multimodal training
    data (VLM batches): a bin closes when the next doc would push it
    past EITHER the token budget or the image-patch budget — text-only
    docs consume tokens only, image docs consume both, and every bin
    satisfies both caps by construction. Same sharded deterministic
    walk as pack_sequences_greedy (shard = hash prefix, bins never
    span shards); both per-doc loads are clamped to their budgets so a
    single oversized doc still packs alone."""
    import pandas as pd

    h = hash_hex8(key, seed)
    prepared = df.withColumn("__h", h).withColumn(
        "__shard", (F.conv(F.substring(h, 1, 2), 16, 10) % shards).cast("int")
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__h", key]).reset_index(drop=True)
        bins, used_t, used_p, cur = [], 0, 0, 0
        for tok, patch in zip(pdf[token_col], pdf[patch_col]):
            tok = min(int(tok), token_budget)
            patch = min(int(patch), patch_budget)
            if used_t + tok > token_budget or used_p + patch > patch_budget:
                cur += 1
                used_t, used_p = 0, 0
            used_t += tok
            used_p += patch
            bins.append(cur)
        pdf["bin_id"] = [f"{int(s)}_{b}" for s, b in zip(pdf["__shard"], bins)]
        return pdf.drop(columns=["__h"])

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{schema}, __shard int, bin_id string"
    return (
        prepared.groupBy("__shard")
        .applyInPandas(_pack, schema=out_schema)
        .drop("__shard")
    )
