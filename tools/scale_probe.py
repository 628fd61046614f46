#!/usr/bin/env python
"""Scale probe: run the engine's core operator shapes on synthetic
facts 30-100× larger than the driver's sf0.1 tables, to evidence the
"would it hold at 1000×?" question with measurements rather than
docstrings.

Generates executor-side (spark.range + hash-derived columns — no
driver loop, no disk unless --persist), then times:

  q1_shape   : scan → filter → 8-agg groupBy (the flagship)
  window     : per-key running sum over a keyed window
  asof       : the union+window as-of recipe, probes ⋈ build
  topk       : global ORDER BY ... LIMIT
  hash_agg   : high-cardinality distinct count

Usage: SPARK_GRAFT_CPUS=16 python tools/scale_probe.py [n_millions]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def main() -> None:
    n_m = float(sys.argv[1]) if len(sys.argv) > 1 else 20
    n = int(n_m * 1_000_000)
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("scale_probe")

    fact = (
        spark.range(0, n)
        .select(
            F.col("id"),
            (F.col("id") % 1_000_000).alias("key"),
            F.pmod(F.hash("id"), F.lit(10000)).alias("qty"),
            (F.pmod(F.hash("id", F.lit(1)), F.lit(1000000)) / 100.0).alias("price"),
            (F.pmod(F.hash("id", F.lit(2)), F.lit(10)) / 100.0).alias("disc"),
            F.pmod(F.hash("id", F.lit(3)), F.lit(6)).alias("flag"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.col("id") * 1000
            ).alias("ts"),
        )
    )

    timings: dict[str, float] = {}

    def bench(name, df):
        t0 = time.time()
        df.collect() if name != "noop" else None
        timings[name] = round(time.time() - t0, 2)

    # warmup
    fact.limit(10).collect()

    bench(
        "q1_shape",
        fact.filter(F.col("qty") > 100)
        .groupBy("flag")
        .agg(
            F.sum("qty").alias("sq"),
            (F.sum(F.round(F.col("price") * 100, 0).cast("bigint")) / 100.0).alias("sp"),
            F.avg("disc").alias("ad"),
            F.count(F.lit(1)).alias("n"),
        ),
    )

    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    bench(
        "window",
        fact.filter(F.col("key") < 2000)  # 2k keys × ~n/1M rows each
        .withColumn("run", F.sum("qty").over(w))
        .groupBy("flag")
        .agg(F.max("run").alias("m")),
    )

    from oxi_diel_db_spark.operators.asof import asof_join

    probes = fact.filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("probe_id"), (F.col("key") % 1000).alias("k"), "ts"
    )
    build = fact.filter(F.col("id") % 3 == 0).select(
        (F.col("key") % 1000).alias("k"),
        F.col("ts").alias("bts"),
        F.col("price").alias("val"),
    )
    asof = asof_join(
        probes, build, on="k", probe_ts="ts", build_ts="bts", payload=["val"]
    )
    bench("asof", asof.groupBy().agg(F.count(F.lit(1)).alias("n"), F.avg("val")))

    bench("topk", fact.orderBy(F.col("price").desc(), "id").limit(100))
    bench(
        "hash_agg",
        fact.groupBy("flag").agg(F.countDistinct("key").alias("dk")),
    )

    print(
        json.dumps(
            {"metric": "scale_probe", "rows": n, "unit": "sec", "timings": timings}
        )
    )




def docs_probe(n_docs: int = 500_000) -> None:
    """Dedup/packing pipeline at training-corpus document counts (the
    driver's documents table caps at 5k rows; this generates word-salad
    docs executor-side and times the north-star operators)."""
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("docs_probe")
    vocab = [f"w{i:02d}" for i in range(50)]
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    docs = spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30) + F.pmod(F.hash("id"), F.lit(40))),
                lambda i: F.element_at(
                    vocab_arr, F.pmod(F.hash(F.col("id"), i), F.lit(50)) + 1
                ),
            ),
        ).alias("text"),
    )
    timings = {}
    from oxi_diel_db_spark.operators import dedup, sampling

    docs.limit(5).collect()  # warmup

    t0 = time.time()
    n1 = dedup.exact_dedup_groups(docs).count()
    timings["exact_dedup"] = round(time.time() - t0, 2)

    t0 = time.time()
    n2 = dedup.minhash_signatures(docs).count()
    timings["minhash_sigs"] = round(time.time() - t0, 2)

    t0 = time.time()
    n3 = dedup.minhash_lsh_pairs(docs, threshold=0.5).count()
    timings["minhash_lsh_pairs"] = round(time.time() - t0, 2)

    t0 = time.time()
    from oxi_diel_db_spark.functions.text import ws_token_count

    packed = sampling.pack_sequences(
        docs.select("doc_id", ws_token_count("text").alias("n_tok")),
        "doc_id", "n_tok", budget=2048,
    )
    n4 = packed.agg(F.max("bin_id")).collect()[0][0]
    timings["pack_sequences"] = round(time.time() - t0, 2)

    # the fused curation plan (lang-id -> quality -> dedup -> pack),
    # same composition as the c1_curation_pipeline query
    from pyspark.sql import Window
    from oxi_diel_db_spark.functions import text as TX

    t0 = time.time()
    staged = docs.select(
        "doc_id",
        TX.lang_id(TX.norm_words("text")).alias("lang_pred"),
        TX.quality_score("text").alias("quality"),
        TX.fingerprint("text").alias("fp"),
        ws_token_count("text").alias("n_tok"),
    ).filter(F.col("quality") >= 0.2)
    surv = (
        staged.withColumn("keep", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("keep"))
        .select("doc_id", "n_tok")
    )
    n5 = sampling.pack_sequences(surv, "doc_id", "n_tok", budget=2048).agg(
        F.max("bin_id"), F.count(F.lit(1))
    ).collect()[0][1]
    timings["curation_pipeline"] = round(time.time() - t0, 2)

    t0 = time.time()
    n6 = (
        dedup.span_dedup(docs, span=10)
        .agg(F.sum("n_spans"), F.sum("n_kept"))
        .collect()[0][1]
    )
    timings["span_dedup"] = round(time.time() - t0, 2)

    t0 = time.time()
    bench_docs = docs.filter(F.col("doc_id") % 1000 == 0)  # ~0.1% eval suite
    train_docs = docs.filter(F.col("doc_id") % 1000 != 0)
    n7 = (
        dedup.bloom_decontaminate(train_docs, bench_docs)
        .agg(F.sum("n_flagged"))
        .collect()[0][0]
    )
    timings["bloom_decontaminate"] = round(time.time() - t0, 2)

    # BM25 retrieval at corpus scale (t14's shape): postings computed
    # only for the query terms, so the shuffled state is O(matching
    # postings) — with a 50-word vocabulary every term matches nearly
    # every doc, making this the WORST case for the postings filter
    # (real vocabularies are sparser).
    t0 = time.time()
    q = spark.createDataFrame(
        [("q1", "w03"), ("q1", "w17"), ("q2", "w29"), ("q2", "w41")],
        "query_id string, term string",
    )
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d2 = docs.select("doc_id", words.alias("words"))
    dl = d2.select("doc_id", F.greatest(F.size("words"), F.lit(0)).alias("dl"))
    stats = d2.agg(F.count(F.lit(1)).alias("n"),
                   F.avg(F.greatest(F.size("words"), F.lit(0))).alias("avgdl"))
    tf = (d2.select("doc_id", F.explode("words").alias("term"))
            .join(F.broadcast(q), "term")
            .groupBy("query_id", "doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    dfq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    from pyspark.sql import Window as _W
    scored = (tf.join(F.broadcast(dfq), "term").join(dl, "doc_id")
                .crossJoin(F.broadcast(stats))
                .groupBy("query_id", "doc_id")
                .agg(F.sum(
                    F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                    * F.col("tf") * 2.2
                    / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
                ).alias("score")))
    topk = (scored.withColumn("rk", F.row_number().over(
                _W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")))
            .filter(F.col("rk") <= 20))
    n8 = topk.count()
    timings["bm25_top20"] = round(time.time() - t0, 2)

    print(json.dumps({
        "metric": "docs_probe", "docs": n_docs, "unit": "sec",
        "timings": timings,
        "counts": {"groups": n1, "sigs": n2, "lsh_pairs": n3, "bins": int(n4),
                   "curated": n5, "spans_kept": int(n6), "bloom_flagged": int(n7),
                   "bm25_rows": int(n8)},
    }))


def vectors_probe(n_vecs: int = 200_000, dim: int = 64, n_probes_q: int = 100) -> None:
    """ANN crossover evidence: brute-force vs IVF at corpus sizes where
    the cell routing pays (the driver's embeddings table is only 5k
    rows at sf0.1, where brute force rightly wins)."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators import similarity

    spark = get_spark("vectors_probe")
    vecs = spark.range(0, n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.hash(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0),
        ).alias("embedding"),
    )
    probes = vecs.filter(F.col("vec_id") < n_probes_q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vecs.limit(5).collect()  # warmup
    timings, counts = {}, {}
    t0 = time.time()
    counts["brute"] = similarity.brute_force_topk(vecs, probes, k=10).count()
    timings["brute_force"] = round(time.time() - t0, 2)
    t0 = time.time()
    counts["gemm"] = similarity.gemm_brute_topk(vecs, probes, k=10).count()
    timings["gemm_brute"] = round(time.time() - t0, 2)
    # the deployment shape: build the IVF index once (persist), then
    # amortize it over query batches
    t0 = time.time()
    assigned, cents = similarity.ivf_index(vecs, n_centroids=64)
    assigned = assigned.persist()
    assigned.count()
    timings["ivf_build"] = round(time.time() - t0, 2)
    for run in (1, 2):
        t0 = time.time()
        counts["ivf"] = similarity.ivf_search(
            assigned, cents, probes, k=10, nprobe=4
        ).count()
        timings[f"ivf_query_batch{run}"] = round(time.time() - t0, 2)
    assigned.unpersist()
    print(json.dumps({
        "metric": "vectors_probe", "vecs": n_vecs, "dim": dim,
        "probe_queries": n_probes_q, "unit": "sec",
        "timings": timings, "counts": counts,
    }))


def graph_probe(n_edges: int = 5_000_000) -> None:
    """Graph-operator scale evidence on a skewed synthetic graph:
    endpoint ids are hash^2-compressed so low ids act as celebrity
    nodes (max degree ~sqrt-law). Times PageRank (fixed-point loop)
    and triangle_count, whose degree-ordered orientation is exactly
    the piece that must survive this skew — a naive wedge join on the
    raw edge list would square the hottest node's degree."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.graph import pagerank, triangle_count

    spark = get_spark("graph_probe")
    n_nodes = max(1000, n_edges // 10)
    # src skewed: square a uniform hash so small ids are hit ~often
    edges = spark.range(0, n_edges).select(
        F.pmod(
            F.pmod(F.hash("id"), F.lit(n_nodes)) * F.pmod(F.hash("id"), F.lit(n_nodes)),
            F.lit(n_nodes),
        ).alias("src"),
        F.pmod(F.hash("id", F.lit(1)), F.lit(n_nodes)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    edges.limit(5).collect()  # warmup
    timings, counts = {}, {}
    t0 = time.time()
    deg = edges.groupBy("src").count()
    counts["max_degree"] = deg.agg(F.max("count")).collect()[0][0]
    counts["nodes"] = deg.count()
    timings["degree_profile"] = round(time.time() - t0, 2)
    t0 = time.time()
    counts["pagerank_rows"] = pagerank(edges, iters=5).count()
    timings["pagerank_5it"] = round(time.time() - t0, 2)
    t0 = time.time()
    tri = triangle_count(edges, persist=True)
    counts["tri_nodes"] = tri.count()
    timings["triangle_count"] = round(time.time() - t0, 2)
    # multi-source BFS (g4's shape at scale: the distributed frontier
    # loop — edges far exceed the driver fast-path bound, so this
    # times the path that matters; frontier pruning drops converged
    # components each round)
    from oxi_diel_db_spark.operators.graph import bfs_distances

    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 1000 == 0
    )
    t0 = time.time()
    counts["bfs_reached"] = bfs_distances(edges, seeds, max_hops=3).count()
    timings["bfs_3hop"] = round(time.time() - t0, 2)
    print(json.dumps({
        "metric": "graph_probe", "edges": n_edges, "unit": "sec",
        "timings": timings, "counts": {k: int(v) for k, v in counts.items()},
    }))


def bfs_probe(n_edges: int = 10_000_000) -> None:
    """g4's BFS alone at scale (the triangle probe's wedge join can
    spill O(m^1.5) to disk on a space-constrained box; BFS rounds are
    O(m) and need no such budget). Measured: 10M edges / 1M nodes,
    ~250 seeds, 3 hops -> 999,867 reached in 23 s on local[32];
    frontier 250 -> 25.5k -> 402k -> 572k (expander growth, per-round
    work tracks the frontier-incident edges)."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.graph import bfs_distances

    spark = get_spark("bfs_probe")
    n_nodes = max(1000, n_edges // 10)
    edges = spark.range(0, n_edges).select(
        F.pmod(
            F.pmod(F.hash("id"), F.lit(n_nodes)) * F.pmod(F.hash("id"), F.lit(n_nodes)),
            F.lit(n_nodes),
        ).alias("src"),
        F.pmod(F.hash("id", F.lit(1)), F.lit(n_nodes)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    edges.limit(5).collect()
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 1000 == 0
    )
    t0 = time.time()
    out = bfs_distances(edges, seeds, max_hops=3)
    reached = out.count()
    dt = round(time.time() - t0, 2)
    hist = {int(r["dist"]): int(r["count"]) for r in out.groupBy("dist").count().collect()}
    print(json.dumps({
        "metric": "bfs_probe", "edges": n_edges, "unit": "sec",
        "sec": dt, "reached": int(reached), "frontier_hist": hist,
    }))


def streaming_probe(n_m: float = 2) -> None:
    """Structured Streaming throughput evidence: replay n million
    synthetic events through the SAME windowed-agg pipeline st1 runs
    (file source → tumbling event-time window → memory sink) and
    report end-to-end rows/sec. Files are sized to ~8 micro-batches so
    the number includes real per-trigger overhead, not one giant batch
    — at 100 TB the equivalent lever is maxOffsetsPerTrigger on the
    Kafka source (streaming/ops.read_events_kafka)."""
    import os
    import tempfile
    import uuid

    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.streaming import ops

    n = int(n_m * 1_000_000)
    spark = get_spark("streaming_probe")
    work = tempfile.mkdtemp(prefix="stream_probe_")
    src = os.path.join(work, "events")
    (
        spark.range(0, n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.col("id") * 100_000
            ).alias("ts"),
            F.pmod(F.hash("id"), F.lit(10_000)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.pmod(F.hash("id", F.lit(1)), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.hash("id", F.lit(2)), F.lit(10000)) / 100.0).alias("value"),
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(src)
    )
    schema = spark.read.parquet(src).schema

    def run(mft: int):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mft)
            .parquet(src)
        )
        agg = ops.tumbling_counts(stream, "1 hour")
        name = f"probe_{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        ops.drain(q)
        return time.time() - t0, len(q.recentProgress), spark.table(name).count()

    run(8)  # warmup: first streaming query in a fresh JVM pays state
    # store/codegen init (~90 s observed at 5M) — time the warm engine
    one_wall, _, n_out = run(8)
    split_wall, batches, _ = run(1)
    print(
        json.dumps(
            {
                "metric": "streaming_probe",
                "rows": n,
                "unit": "sec",
                "timings": {
                    "one_batch": round(one_wall, 2),
                    "per_file_triggers": round(split_wall, 2),
                },
                "rows_per_sec": {
                    "one_batch": int(n / one_wall),
                    "per_file_triggers": int(n / split_wall),
                },
                "micro_batches": batches,
                "out_groups": n_out,
            }
        )
    )


def asof_skew_probe(n_m: float = 100) -> None:
    """As-of join under key skew (q37 recipe, r4-verdict item 7): the
    union+window plan's one shuffle partitions by key, so a hot key
    concentrates its rows in one partition and the window SORT is the
    stressed piece (it spills rather than fails — the question is the
    wall-clock cliff).

    Three runs at the same row count:
      uniform    : 1000 uniform keys (baseline; matches tools' asof)
      zipf_hot   : ~30% of all rows on ONE key, rest uniform — the
                   pathological shape the asof docstring warns about
      hot_split  : same skewed data with the documented mitigation —
                   time-bucketing the hot key before the window
                   (carry-in rows per bucket keep exact semantics)

    The mitigation splits each hot key's window sort into ~nb
    independent sorts: bucket boundaries are closed by replicating,
    for bucket b, the latest build row at-or-before the bucket start
    (computed with one tiny extra window over build rows only).
    """
    n = int(n_m * 1_000_000)
    from oxi_diel_db_spark.operators.asof import asof_join
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("asof_skew_probe")
    base = spark.range(0, n).select(
        F.col("id"),
        F.pmod(F.hash("id", F.lit(7)), F.lit(1000)).alias("uk"),
        # 30% of rows land on key 0, the rest spread over 1000 keys
        F.when(F.pmod(F.hash("id", F.lit(9)), F.lit(10)) < 3, F.lit(0))
        .otherwise(F.pmod(F.hash("id", F.lit(7)), F.lit(1000)))
        .alias("zk"),
        F.timestamp_micros(F.lit(1704067200000000) + F.col("id") * 1000).alias("ts"),
        (F.pmod(F.hash("id", F.lit(2)), F.lit(100000)) / 100.0).alias("val"),
    )
    base.limit(10).collect()  # warmup
    timings: dict[str, float] = {}

    def run(name, key_col, bucketed=False):
        probes = base.filter(F.col("id") % 10 == 0).select(
            F.col("id").alias("probe_id"), F.col(key_col).alias("k"), "ts"
        )
        build = base.filter(F.col("id") % 3 == 0).select(
            F.col(key_col).alias("k"), F.col("ts").alias("bts"), "val"
        )
        if bucketed:
            # time-bucket the window: sub-key = (k, hour bucket). Exact
            # semantics need a carry-in per bucket: the latest build row
            # at-or-before each bucket start, replicated into the next
            # bucket. One extra window over BUILD rows only (8.6× fewer
            # than the union) — still two shuffles total vs one.
            bucket = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
            b = build.withColumn("__b", bucket("bts"))
            wlast = Window.partitionBy("k", "__b").orderBy(F.col("bts").desc())
            carry = (
                b.withColumn("__rn", F.row_number().over(wlast))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .withColumn("__b", F.col("__b") + 1)
            )
            b_all = b.unionByName(carry)
            p = probes.withColumn("__b", bucket("ts"))
            out = asof_join(
                p.withColumn("k2", F.concat_ws(":", "k", "__b")).drop("__b"),
                b_all.withColumn("k2", F.concat_ws(":", "k", "__b")).drop("__b"),
                on="k2",
                probe_ts="ts",
                build_ts="bts",
                payload=["val"],
            )
        else:
            out = asof_join(
                probes, build, on="k", probe_ts="ts", build_ts="bts", payload=["val"]
            )
        t0 = time.time()
        row = out.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.round(F.avg("val"), 2).alias("avg")
        ).collect()[0]
        timings[name] = round(time.time() - t0, 2)
        return row["n"], row["avg"]

    from pyspark.sql import Window

    n_u, avg_u = run("uniform", "uk")
    n_z, avg_z = run("zipf_hot", "zk")
    n_b, avg_b = run("hot_split", "zk", bucketed=True)
    # the mitigation must not change the answer (same skewed input)
    assert (n_b, ) == (n_z, ), (n_z, n_b)
    print(
        json.dumps(
            {
                "metric": "asof_skew_probe",
                "rows": n,
                "unit": "sec",
                "timings": timings,
                "counts": {"uniform": n_u, "zipf_hot": n_z, "hot_split": n_b},
                "avg_match": bool(avg_b == avg_z),
            }
        )
    )


def cdc_probe(n_m: float = 5, n_users: int = 200_000) -> None:
    """Streaming-CDC merge throughput (the st10 recipe at scale):
    bootstrap a last-state-per-user table from the first quarter of
    n_m million synthetic events, then merge the remaining three
    quarters batch-by-batch via merge_upsert_partitioned (dynamic
    partition overwrite, partitioned by a 16-way key class so merges
    rewrite a subset of partitions). Reports bootstrap + per-merge
    seconds and the final table row count (must equal n_users once
    every user has been seen)."""
    import os
    import tempfile

    from pyspark.sql import Window
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.scale import merge_upsert_partitioned

    spark = get_spark("cdc_probe")
    n = int(n_m * 1_000_000)
    ev = spark.range(0, n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.hash("id"), F.lit(n_users)).alias("user_id"),
        F.pmod(F.hash("id", F.lit(7)), F.lit(16)).alias("pt"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )
    ev.limit(5).collect()
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())

    def last_per_user(df):
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    work = tempfile.mkdtemp(prefix="cdc_probe_")
    table = os.path.join(work, "table")
    timings = {}
    q = n // 4
    t0 = time.time()
    last_per_user(ev.filter(F.col("event_id") < q)).write.mode(
        "overwrite"
    ).partitionBy("pt").parquet(table)
    timings["bootstrap"] = round(time.time() - t0, 2)
    for i in (1, 2, 3):
        hi = (i + 1) * q if i < 3 else n
        batch = ev.filter(
            (F.col("event_id") >= i * q) & (F.col("event_id") < hi)
        )
        t0 = time.time()
        merge_upsert_partitioned(
            spark, table, last_per_user(batch), key="user_id", part_col="pt"
        )
        timings[f"merge_{i}"] = round(time.time() - t0, 2)
    final = spark.read.parquet(table).count()
    print(json.dumps({
        "metric": "cdc_probe", "events": n, "users": n_users, "unit": "sec",
        "timings": timings, "final_rows": final,
    }))


def bucketed_probe(n_m: float = 20) -> None:
    """Layout evidence for the q83 rule: the same fact-fact join+agg
    over (a) plain parquet (shuffle both sides every query) and
    (b) co-bucketed tables (pay the bucketing shuffle once at write).
    Reports write and per-join times — the break-even is visible
    directly: bucketing costs one extra write-side shuffle and repays
    it on every subsequent join."""
    import os
    import tempfile

    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("bucketed_probe")
    n = int(n_m * 1_000_000)
    left = spark.range(0, n).select(
        F.col("id").alias("k"),
        F.pmod(F.hash("id"), F.lit(1000)).alias("seg"),
        (F.pmod(F.hash("id", F.lit(1)), F.lit(100000)) / 100.0).alias("price"),
    )
    right = spark.range(0, n * 2).select(
        F.pmod(F.col("id"), F.lit(n)).alias("k"),
        F.pmod(F.hash("id", F.lit(2)), F.lit(10000)).alias("qty"),
    )
    base = tempfile.mkdtemp(prefix="bucket_probe_")
    timings = {}
    t0 = time.time()
    left.write.mode("overwrite").parquet(os.path.join(base, "plain_l"))
    right.write.mode("overwrite").parquet(os.path.join(base, "plain_r"))
    timings["write_plain"] = round(time.time() - t0, 2)
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bprobe "
        f"LOCATION '{os.path.join(base, 'bprobe.db')}'"
    )
    t0 = time.time()
    for name, df in (("bl", left), ("br", right)):
        spark.sql(f"DROP TABLE IF EXISTS bprobe.{name}")
        (df.write.mode("overwrite").format("parquet")
         .option("path", os.path.join(base, name))
         .bucketBy(32, "k").sortBy("k").saveAsTable(f"bprobe.{name}"))
    timings["write_bucketed"] = round(time.time() - t0, 2)

    def join_time(l, r):
        t0 = time.time()
        (l.hint("merge").join(r, "k").groupBy("seg")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("price") * F.col("qty")).alias("rev"))
         .collect())
        return round(time.time() - t0, 2)

    pl = spark.read.parquet(os.path.join(base, "plain_l"))
    pr = spark.read.parquet(os.path.join(base, "plain_r"))
    timings["join_plain"] = join_time(pl, pr)
    timings["join_plain_2"] = join_time(pl, pr)
    bl, br = spark.table("bprobe.bl"), spark.table("bprobe.br")
    timings["join_bucketed"] = join_time(bl, br)
    timings["join_bucketed_2"] = join_time(bl, br)
    print(json.dumps({
        "metric": "bucketed_probe", "rows_left": n, "rows_right": n * 2,
        "unit": "sec", "timings": timings,
    }))



def sessions_probe(n_m: float = 20) -> None:
    """q85's shape at scale: sessionize n_m million events over 500k
    users (~40 events/user, exponential-ish inter-arrival so sessions
    split realistically) and compare session_window vs the
    gaps-and-islands window form. Also times the dq audit shapes."""
    import time

    from oxi_diel_db_spark.session import get_spark

    n = int(n_m * 1_000_000)
    spark = get_spark("sessions_probe")
    ev = (
        spark.range(0, n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 500_000).alias("user_id"),
            F.timestamp_micros(
                F.lit(1704067200000000)
                + (F.col("id") / 500_000).cast("long") * 3_600_000_000
                + F.pmod(F.hash("id"), F.lit(7_200_000_000))
            ).alias("ts"),
            (F.pmod(F.hash("id", F.lit(1)), F.lit(100000)) / 100.0).alias("value"),
        )
    )
    ev.limit(10).collect()  # warmup

    t0 = time.time()
    sw = (
        ev.groupBy(F.session_window("ts", "4 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("n"))
        .collect()
    )
    t_sw = time.time() - t0
    print(f"session_window   {n_m}M events -> {sw[0][0]} sessions: {t_sw:.2f}s")

    from pyspark.sql import Window as W

    t0 = time.time()
    w = W.partitionBy("user_id").orderBy("ts")
    gi = (
        ev.withColumn(
            "new_s",
            F.when(
                F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
                > 4 * 3600,
                1,
            )
            .otherwise(0)
            + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("n"))
        .collect()
    )
    t_gi = time.time() - t0
    print(f"gaps_and_islands {n_m}M events -> {gi[0][0]} sessions: {t_gi:.2f}s")

    # dq audit shapes at the same scale
    t0 = time.time()
    ev.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("value") > 900, 1).otherwise(0)),
        F.count_distinct("user_id"),
    ).collect()
    print(f"dq_audit_agg     {n_m}M events: {time.time() - t0:.2f}s")

    t0 = time.time()
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)).cast("int"),
                F.lit(9),
            ).alias("bin"),
            (F.col("event_id") % 2).alias("half"),
        )
        .count()
        .collect()
    )
    print(f"dq_psi_bins      {n_m}M events: {time.time() - t0:.2f}s")


def images_probe(n_k: float = 100) -> None:
    """mm8's decode+aHash throughput: n_k thousand synthetic images
    through the fixture encoder and the perceptual-hash kernel."""
    import time

    from oxi_diel_db_spark.operators.multimodal import (
        image_ahash,
        neardup_fixture_table,
    )
    from oxi_diel_db_spark.session import get_spark

    n = int(n_k * 1000)
    spark = get_spark("images_probe")
    docs = spark.range(n).withColumnRenamed("id", "doc_id").repartition(32)
    docs.limit(10).collect()
    t0 = time.time()
    out = (
        image_ahash(neardup_fixture_table(docs, n_groups=max(n // 10, 1)))
        .groupBy("ahash")
        .count()
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("count"))
        .collect()
    )
    dt = time.time() - t0
    print(
        f"ahash {n_k}k images: {dt:.2f}s ({n / dt / 1000:.0f}k img/s), "
        f"{out[0][0]} clusters over {out[0][1]} images"
    )
    from oxi_diel_db_spark.operators.multimodal import image_phash

    t0 = time.time()
    out = (
        image_phash(neardup_fixture_table(docs, n_groups=max(n // 10, 1)))
        .groupBy("phash")
        .count()
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("count"))
        .collect()
    )
    dt = time.time() - t0
    print(
        f"phash {n_k}k images: {dt:.2f}s ({n / dt / 1000:.0f}k img/s), "
        f"{out[0][0]} clusters over {out[0][1]} images"
    )



def ledger_probe(n_k: float = 100) -> None:
    """c2's end-to-end ledger composition at n_k thousand synthetic
    docs: quality gate -> fingerprint keep-first -> capped Jaccard
    pairs -> connected components -> keep-best -> decontamination ->
    temperature sampling -> cluster-keyed split, timed per stage. The
    word-salad corpus is deliberately low-entropy, so the
    max_doc_freq hot-shingle valve is load-bearing here (exact mode
    would explode the candidate join quadratically)."""
    import time

    from pyspark.sql import Window as W

    from oxi_diel_db_spark.functions import text as TX
    from oxi_diel_db_spark.operators import dedup
    from oxi_diel_db_spark.operators.sampling import temperature_sample
    from oxi_diel_db_spark.session import get_spark

    n = int(n_k * 1000)
    spark = get_spark("ledger_probe")
    vocab = [f"w{i:02d}" for i in range(200)]
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    langs = F.array(F.lit("en"), F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es"))
    # 40% of docs copy their group leader's text (doc_id - doc_id%5):
    # id%5==2 verbatim (exact dups), id%5==1 with one appended word
    # (near dups) — so every survivorship stage has real work to do.
    base_id = F.when(
        F.pmod(F.col("id"), F.lit(5)).isin(1, 2),
        F.col("id") - F.pmod(F.col("id"), F.lit(5)),
    ).otherwise(F.col("id"))
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(30) + F.pmod(F.hash(base_id), F.lit(40))),
            lambda i: F.element_at(
                vocab_arr, F.pmod(F.hash(base_id, i), F.lit(200)) + 1
            ),
        ),
    )
    docs = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.element_at(langs, F.pmod(F.hash("id", F.lit(9)), F.lit(5)) + 1).alias("lang"),
        F.when(
            F.pmod(F.col("id"), F.lit(5)) == 1, F.concat(body, F.lit(" zzextra"))
        ).otherwise(body).alias("text"),
    )
    docs.limit(5).collect()

    t_all = time.time()
    timings = {}

    t0 = time.time()
    base = docs.select(
        "doc_id", "lang", "text", TX.quality_score("text").alias("quality")
    )
    pipe = base.filter(F.col("doc_id") % 23 != 0)
    s1 = pipe.filter(
        (F.col("quality") >= 0.2) & F.col("lang").isin("en", "de", "fr")
    ).persist()
    n1 = s1.count()
    timings["quality_gate"] = round(time.time() - t0, 2)

    t0 = time.time()
    w_fp = W.partitionBy(TX.fingerprint("text")).orderBy("doc_id")
    s2 = (
        s1.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .persist()
    )
    n2 = s2.count()
    timings["exact_dedup"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = dedup.ngram_jaccard_pairs(s2, threshold=0.5, max_doc_freq=200)
    labels = dedup.dedup_clusters(pairs)
    s2c = s2.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w_best = W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), "doc_id")
    s3 = (
        s2c.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .persist()
    )
    n3 = s3.count()
    timings["neardup_cluster_keepbest"] = round(time.time() - t0, 2)

    t0 = time.time()
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    cont = dedup.ngram_decontaminate(s3, bench, "doc_id", "text", n=3).select(
        "doc_id", "contamination"
    )
    s4 = (
        s3.join(cont, "doc_id", "left")
        .filter(F.coalesce("contamination", F.lit(0.0)) < 0.8)
        .persist()
    )
    n4 = s4.count()
    timings["decontaminate"] = round(time.time() - t0, 2)

    t0 = time.time()
    s5 = temperature_sample(s4, "doc_id", "lang", alpha=0.7, seed=42)
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit("csplit"), F.col("cluster_id"))), 1, 8
    )
    final = s5.withColumn(
        "split",
        F.when(h < "cccccccc", "train").when(h < "e6666666", "val").otherwise("test"),
    )
    counts = {
        r["split"]: r["count"] for r in final.groupBy("split").count().collect()
    }
    timings["sample_and_split"] = round(time.time() - t0, 2)

    total = round(time.time() - t_all, 2)
    print(
        json.dumps(
            {
                "metric": "ledger_probe",
                "docs": n,
                "unit": "sec",
                "timings": timings,
                "total": total,
                "counts": {
                    "s1_quality": n1,
                    "s2_exact": n2,
                    "s3_neardup": n3,
                    "s4_decontam": n4,
                    "splits": counts,
                },
            }
        )
    )




def retrieval_probe(n_docs: int = 10_000_000) -> None:
    """d15 (tf-idf cosine near-dup) + c3 (hybrid RRF) at retrieval
    corpus scale (r6 verdict ask #6). The generator plants realistic
    posting-list structure: every doc carries 8 HEAD terms from a
    50-word vocabulary (df ~ n_docs -> idf ~ 0, and the df <= 100 cap
    excludes them from the index — these measure the cap's hit rate)
    plus 5 RARE terms shared by exactly one sibling doc (df = 2 —
    these drive candidate generation, pairs = n_docs/2 planted dups).
    Records the posting-cap hit rate so the capped-cosine semantics
    stay honest at scale, and times the c3 fusion tiers separately to
    verify "fusion is negligible" with a number."""
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("retrieval_probe")
    from pyspark.sql import Window as _W

    head = F.transform(
        F.sequence(F.lit(1), F.lit(8)),
        lambda i: F.concat(F.lit("h"), F.pmod(F.hash(F.col("doc_id"), i), F.lit(50))),
    )
    rare = F.transform(
        F.sequence(F.lit(1), F.lit(5)),
        lambda j: F.concat(
            F.lit("r"),
            F.floor(F.col("doc_id") / 2).cast("string"),
            F.lit("_"),
            j.cast("string"),
        ),
    )
    docs = spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(head, rare).alias("words"),
    )
    timings: dict[str, float] = {}
    docs.limit(5).collect()  # warmup

    # ---- d15 shape (exact pipeline minus the tokenizer: the probe's
    # claim is the inverted-index self-join + df-window, not regex) ----
    t0 = time.time()
    tf = (
        docs.select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    wts = (
        tf.withColumn("df", F.count(F.lit(1)).over(_W.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "df",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("wt"),
        )
    )
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = wts.filter(F.col("df") <= 100).select(
        F.col("doc_id").alias("doc_a"), "term", F.col("wt").alias("wa")
    )
    b = wts.filter(F.col("df") <= 100).select(
        F.col("doc_id").alias("doc_b"), "term", F.col("wt").alias("wb")
    )
    pairs = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    kept = (
        pairs.join(na, "doc_a").join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
    )
    n_pairs = kept.count()
    timings["d15_tfidf_cosine"] = round(time.time() - t0, 2)

    # posting-cap honesty: what fraction of weight ENTRIES (and weight
    # MASS) does df <= 100 drop from the index?
    t0 = time.time()
    cap = wts.agg(
        F.count(F.lit(1)).alias("entries"),
        F.count(F.when(F.col("df") > 100, 1)).alias("capped_entries"),
        F.sum(F.abs("wt")).alias("mass"),
        F.coalesce(
            F.sum(F.when(F.col("df") > 100, F.abs(F.col("wt")))), F.lit(0.0)
        ).alias("capped_mass"),
    ).collect()[0]
    timings["cap_audit"] = round(time.time() - t0, 2)

    # ---- c3 shape: lexical BM25 top-20 + vector top-20 + RRF fusion,
    # each tier timed separately ----
    t0 = time.time()
    q = spark.createDataFrame(
        [("q1", "h3"), ("q1", "h17"), ("q2", "h29"), ("q2", "h41")],
        "query_id string, term string",
    )
    dl = docs.select("doc_id", F.size("words").alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size("words")).alias("avgdl")
    )
    qtf = (
        docs.select("doc_id", F.explode("words").alias("term"))
        .join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = qtf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    lex = (
        qtf.join(F.broadcast(dfq), "term").join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            * F.col("tf") * 2.2
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
        ).alias("score"))
        .withColumn("lex_rank", F.row_number().over(
            _W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")))
        .filter(F.col("lex_rank") <= 20)
        .select("query_id", "doc_id", "lex_rank")
    ).persist()  # materialized here so the fusion timing is fusion-only
    n_lex = lex.count()
    timings["c3_lex_tier"] = round(time.time() - t0, 2)

    # vector tier at 1/10th corpus (dim 16): brute cosine top-20 — the
    # standalone shape vectors_probe measures at full depth
    t0 = time.time()
    vecs = spark.range(0, max(n_docs // 10, 1)).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (F.pmod(F.hash(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0),
        ).alias("v"),
    )
    probes = vecs.filter(F.col("doc_id") < 2).select(
        F.concat(F.lit("q"), (F.col("doc_id") + 1).cast("string")).alias("query_id"),
        F.col("v").alias("pv"),
    )
    dot = F.aggregate(
        F.zip_with("v", "pv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    vec = (
        vecs.crossJoin(F.broadcast(probes))
        .select(
            "query_id", "doc_id",
            (dot / (nrm(F.col("v")) * nrm(F.col("pv")))).alias("cos"),
        )
        .withColumn("vec_rank", F.row_number().over(
            _W.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")))
        .filter(F.col("vec_rank") <= 20)
        .select("query_id", "doc_id", "vec_rank")
    ).persist()  # materialized here so the fusion timing is fusion-only
    n_vec = vec.count()
    timings["c3_vec_tier"] = round(time.time() - t0, 2)

    t0 = time.time()
    fused = (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id", "doc_id",
            (F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
             + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0))).alias("rrf"),
        )
    )
    n_fused = fused.count()
    timings["c3_rrf_fusion"] = round(time.time() - t0, 2)

    print(json.dumps({
        "metric": "retrieval_probe", "docs": n_docs, "unit": "sec",
        "timings": timings,
        "counts": {
            "d15_pairs": int(n_pairs),
            "index_entries": int(cap["entries"]),
            "capped_entries": int(cap["capped_entries"]),
            "cap_entry_rate": round(cap["capped_entries"] / cap["entries"], 4),
            "cap_mass_rate": round(cap["capped_mass"] / cap["mass"], 4),
            "lex_rows": int(n_lex), "vec_rows": int(n_vec),
            "fused_rows": int(n_fused),
        },
    }))




def pit_probe(n_m: float = 30) -> None:
    """pit_enrich (q99) vs chained asof_join at feature-store scale:
    one observation stream + THREE feature streams over the same keys.
    The claim under test: the tagged-union recipe pays ONE key shuffle
    total, while N chained as-of joins re-shuffle the (growing)
    observation row N times — wall-clock should separate accordingly
    as streams are added."""
    from oxi_diel_db_spark.operators.asof import asof_join, pit_enrich
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("pit_probe")
    n = int(n_m * 1_000_000)
    base = spark.range(0, n).select(
        F.col("id"),
        F.pmod(F.hash("id", F.lit(7)), F.lit(200_000)).alias("k"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * 1000
        ).alias("ts"),
        (F.pmod(F.hash("id", F.lit(2)), F.lit(100000)) / 100.0).alias("val"),
    )
    obs = base.filter(F.col("id") % 4 == 0).select(
        F.col("id").alias("obs_id"), "k", "ts"
    )
    feats = [
        (
            base.filter(F.col("id") % 4 == m).select(
                "k",
                F.col("ts").alias(f"t{m}"),
                F.col("val").alias(f"f{m}"),
            ),
            f"t{m}",
            [f"f{m}"],
        )
        for m in (1, 2, 3)
    ]
    base.limit(5).collect()  # warmup
    timings: dict[str, float] = {}

    def force(df):
        return df.agg(
            F.count(F.lit(1)), F.count("f1"), F.count("f2"), F.count("f3")
        ).collect()[0][0]

    def run_pit():
        return force(pit_enrich(obs, feats, on="k", probe_ts="ts"))

    def run_chain():
        c = obs
        for bdf, bts, payload in feats:
            c = asof_join(
                c, bdf, on="k", probe_ts="ts", build_ts=bts, payload=payload
            )
        return force(c)

    # min-of-2 AFTER one untimed warm rep per side: the first execution
    # of either plan pays whole-stage-codegen JIT for the whole family
    # and mis-attributes ~2x to whichever side runs first (measured)
    run_pit(); run_chain()
    best_pit, best_chain, n_pit, n_chain = 9e9, 9e9, 0, 0
    for _ in range(2):
        t0 = time.time(); n_pit = run_pit()
        best_pit = min(best_pit, time.time() - t0)
        t0 = time.time(); n_chain = run_chain()
        best_chain = min(best_chain, time.time() - t0)
    timings["pit_enrich_3_streams"] = round(best_pit, 2)
    timings["chained_asof_x3"] = round(best_chain, 2)

    print(json.dumps({
        "metric": "pit_probe", "rows": n, "unit": "sec",
        "timings": timings,
        "counts": {"pit_rows": int(n_pit), "chained_rows": int(n_chain)},
    }))



def ks_probe(n_m: float = 50) -> None:
    """dq10's bucketed two-pass KS at probe scale: n million rows,
    split ref/cur by row parity, with a planted location shift on the
    cur half so the verdict must fire. Sanity: a no-shift control run
    must NOT drift (D ~ sqrt(1/n) << crit is impossible at this n —
    identical halves give D near 0). Evidence recorded in SCALE.md."""
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("ks_probe")
    n = int(n_m * 1_000_000)

    def run(shift: float):
        base = spark.range(0, n).select(
            F.col("id"),
            (
                F.pmod(F.hash("id"), F.lit(1_000_000)) / 1000.0
                + F.when(F.col("id") % 2 == 1, F.lit(shift)).otherwise(0.0)
            ).alias("value"),
        )
        v = base.groupBy("value").agg(
            F.sum(F.when(F.col("id") % 2 == 0, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("id") % 2 == 1, 1).otherwise(0)).alias("n_cur"),
        )
        bounds = base.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        B = 64
        from pyspark.sql import Window as W

        v = v.crossJoin(F.broadcast(bounds)).withColumn(
            "__b",
            F.coalesce(
                F.least(
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / B)
                    ).cast("int"),
                    F.lit(B - 1),
                ),
                F.lit(0),
            ),
        )
        w_off = W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
        off = v.groupBy("__b").agg(
            F.sum("n_ref").alias("br"), F.sum("n_cur").alias("bc")
        ).select(
            "__b",
            F.coalesce(F.sum("br").over(w_off), F.lit(0)).alias("offr"),
            F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("offc"),
        )
        w_cum = W.partitionBy("__b").orderBy("value").rowsBetween(
            W.unboundedPreceding, 0
        )
        c = v.join(F.broadcast(off), "__b").select(
            "value",
            (F.sum("n_ref").over(w_cum) + F.col("offr")).alias("cum_ref"),
            (F.sum("n_cur").over(w_cum) + F.col("offc")).alias("cum_cur"),
        )
        tot = v.agg(
            F.sum("n_ref").cast("bigint").alias("t_ref"),
            F.sum("n_cur").cast("bigint").alias("t_cur"),
        )
        d = c.crossJoin(F.broadcast(tot)).select(
            F.abs(
                F.col("cum_ref").cast("double") / F.col("t_ref").cast("double")
                - F.col("cum_cur").cast("double") / F.col("t_cur").cast("double")
            ).alias("dd"),
            (
                1.358
                * F.sqrt(
                    (F.col("t_ref") + F.col("t_cur")).cast("double")
                    / (
                        F.col("t_ref").cast("double")
                        * F.col("t_cur").cast("double")
                    )
                )
            ).alias("crit"),
        )
        t0 = time.time()
        row = d.orderBy(F.col("dd").desc()).limit(1).collect()[0]
        return round(time.time() - t0, 2), float(row["dd"]), float(row["crit"])

    sec_shift, d_shift, crit = run(5.0)
    sec_ctl, d_ctl, _ = run(0.0)
    assert d_shift > crit, (d_shift, crit)
    assert d_ctl <= crit, (d_ctl, crit)
    print(json.dumps({
        "metric": "ks_probe", "rows": n, "unit": "sec",
        "sec_shifted": sec_shift, "sec_control": sec_ctl,
        "d_shifted": round(d_shift, 6), "d_control": round(d_ctl, 6),
        "crit_05": round(crit, 6),
    }))


def pca_probe(n_vecs: int = 2_000_000, dim: int = 64) -> None:
    """ml14's covariance pass at probe scale: n synthetic dim-d
    vectors generated executor-side; the shuffle carries only
    P x d(d+1)/2 partial rows however large n grows. Reports the
    covariance-pass wall time and the driver eigh time separately."""
    import numpy as np

    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("pca_probe")
    cols = [
        (F.pmod(F.hash("id", F.lit(k)), F.lit(2_000_001)) / 1_000_000.0 - 1.0)
        for k in range(dim)
    ]
    emb = spark.range(0, n_vecs).select(F.array(*cols).alias("e"))

    import pandas as pd

    def _partials(it):
        ss = np.zeros((dim, dim))
        cnt = 0
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            ss += m.T @ m
            cnt += len(m)
        if cnt == 0:
            return
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame(
            {"i": iu.astype("int32"), "j": ju.astype("int32"),
             "ss": ss[iu, ju], "pn": np.full(len(iu), cnt, dtype="int64")}
        )

    t0 = time.time()
    parts = (
        emb.mapInPandas(_partials, "i int, j int, ss double, pn bigint")
        .groupBy("i", "j")
        .agg(F.sum("ss").alias("sxy"))
        .collect()
    )
    sec_cov = round(time.time() - t0, 2)
    cov = np.zeros((dim, dim))
    for r in parts:
        cov[r["i"], r["j"]] = r["sxy"] / n_vecs
        cov[r["j"], r["i"]] = cov[r["i"], r["j"]]
    t0 = time.time()
    vals = np.linalg.eigh(cov)[0]
    sec_eigh = round(time.time() - t0, 4)
    print(json.dumps({
        "metric": "pca_probe", "vecs": n_vecs, "dim": dim, "unit": "sec",
        "sec_cov_pass": sec_cov, "sec_eigh": sec_eigh,
        "gate_rows": dim * (dim + 1) // 2,
        "top_eig": round(float(vals[-1]), 6),
    }))


def bpe_probe(n_docs: int = 2_000_000, words_per_doc: int = 20) -> None:
    """t18's claim measured: the corpus is touched once; the 10 merge
    iterations run over the word-frequency table (vocab-sized). Docs
    are synthetic skewed draws from a 50k token vocabulary (cube-law
    skew). Reports corpus-pass vs merge-loop wall time and the vocab
    size the loop actually iterates over."""
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("bpe_probe")
    V = 50_000
    tok = F.concat(
        F.lit("w"),
        F.floor(
            F.pow(
                F.pmod(F.hash("id", F.col("pos")), F.lit(1_000_000)) / 1_000_000.0,
                F.lit(3.0),
            )
            * V
        ).cast("string"),
    )
    t0 = time.time()
    words = (
        spark.range(0, n_docs)
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(words_per_doc - 1))).alias("pos"))
        .select(tok.alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        "freq",
        F.concat(
            F.filter(F.split("w", ""), lambda c: c != ""),
            F.array(F.lit("</w>")),
        ).alias("syms"),
    ).localCheckpoint()
    vocab_n = vocab.count()
    sec_corpus = round(time.time() - t0, 2)

    t0 = time.time()
    merges = []
    for rank in range(1, 11):
        nsz = F.size("syms")
        pairs = vocab.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, nsz - 1),
                    F.slice("syms", 2, nsz - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        ).select("freq", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.col("pf").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        l, r = top[0]["l"], top[0]["r"]
        merges.append(l + r)
        merged = F.aggregate(
            "syms",
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
            lambda acc, x: F.when(
                (acc["pend"] == F.lit(l)) & (x == F.lit(r)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(l + r))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            ).otherwise(
                F.struct(
                    F.when(
                        acc["pend"].isNotNull(),
                        F.concat(acc["out"], F.array(acc["pend"])),
                    )
                    .otherwise(acc["out"])
                    .alias("out"),
                    x.alias("pend"),
                )
            ),
            lambda acc: F.when(
                acc["pend"].isNotNull(),
                F.concat(acc["out"], F.array(acc["pend"])),
            ).otherwise(acc["out"]),
        )
        vocab = vocab.select("freq", merged.alias("syms")).localCheckpoint()
    sec_merges = round(time.time() - t0, 2)
    print(json.dumps({
        "metric": "bpe_probe", "docs": n_docs, "tokens": n_docs * words_per_doc,
        "unit": "sec", "vocab": int(vocab_n), "sec_corpus_pass": sec_corpus,
        "sec_10_merges": sec_merges, "merges": merges,
    }))


def cc_probe(n_edges: int = 10_000_000) -> None:
    """g5's alternating-star connected components at scale, with the
    adversarial shape that breaks min-label propagation: the random
    expander bulk (one giant component) PLUS planted 64-node chains
    (diameter 63 — label propagation needs 63 rounds; star contraction
    needs O(log n)). Records rounds-to-fixpoint and per-round edge
    counts so the O(log n) claim is measured, not asserted."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.graph import (
        _large_star,
        _small_star,
        connected_components,
    )

    spark = get_spark("cc_probe")
    n_nodes = max(1000, n_edges // 10)
    bulk = spark.range(0, n_edges).select(
        F.pmod(F.hash("id"), F.lit(n_nodes)).alias("src"),
        F.pmod(F.hash("id", F.lit(1)), F.lit(n_nodes)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # 1000 disjoint 64-node chains living above the bulk id space
    chain = spark.range(0, 64_000).select(
        (F.lit(n_nodes) + F.col("id")).alias("src"),
        (F.lit(n_nodes) + F.col("id") + 1).alias("dst"),
    ).filter((F.col("id") % 64) != 63)
    edges = bulk.unionByName(chain)
    edges.limit(5).collect()

    t0 = time.time()
    # instrumented copy of connected_components' loop: same steps,
    # counting rounds and per-round edge-set size
    e = edges.where(F.col("src") != F.col("dst")).distinct().localCheckpoint(True)
    cur = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(True)
    )
    per_round = []
    rounds = 0
    for _ in range(30):
        rounds += 1
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        after = _small_star(_large_star(sym).localCheckpoint(True)).localCheckpoint(True)
        n_after = after.count()
        per_round.append(int(n_after))
        if n_after == cur.count() and after.exceptAll(cur).limit(1).count() == 0:
            cur = after
            break
        cur = after
    n_comp = cur.select("dst").distinct().count()
    dt = round(time.time() - t0, 2)
    print(json.dumps({
        "metric": "cc_probe", "edges": n_edges, "chain_nodes": 64_000,
        "unit": "sec", "sec": dt, "rounds": rounds,
        "n_components_rooted": int(n_comp), "per_round_edges": per_round,
    }))
    # cross-check the operator's own public entry point on a slice
    t1 = time.time()
    small = edges.filter((F.col("src") % 50 == 0) | (F.col("src") >= n_nodes))
    cc = connected_components(small)
    n = cc.count()
    print(json.dumps({
        "metric": "cc_probe_slice", "rows": int(n),
        "sec": round(time.time() - t1, 2),
    }))


def semdedup_probe(n_vecs: int = 10_000_000, dim: int = 16, n_cells: int = 4096) -> None:
    """d16's SemDeDup shape at 10M vectors (r7 verdict ask #7): IVF
    assignment + within-cell pairwise, with 1% planted exact
    duplicates whose recovery is asserted (an exact dup always lands
    in its original's cell — identical vector, identical argmax — and
    scores cos 1.0, so recall on plants must be 100%).

    Measures BOTH assignment paths on a 100k slice: the gate-SF
    expression fold (d16's hash-gated form) and the numpy-GEMM
    mapInPandas path (similarity.ivf_assign_gemm) — the measured cliff
    is the fold's O(n·k) per-row cost (~0.6 µs/dot → hours at 10M),
    which is why assignment and the pairwise stage run GEMM at scale.
    Cell-count scaling: per-cell membership ~ n/k, pairwise flops
    ~ n²/k; prints max/avg cell size so skew is visible."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.similarity import (
        ivf_assign_gemm,
        ivf_index,
        semdedup_cells_gemm,
    )

    spark = get_spark("semdedup_probe")
    n_plant = n_vecs // 100
    # ids >= n_vecs are exact duplicates of ids 0..n_plant
    base_id = F.when(F.col("id") >= n_vecs, F.col("id") - n_vecs).otherwise(
        F.col("id")
    )
    emb = spark.range(0, n_vecs + n_plant).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.hash(base_id, i), F.lit(1000)) / 500.0 - 1.0),
        ).alias("embedding"),
    )

    # expression-path assignment cost on a bounded slice (the cliff)
    slice_n = 100_000
    sl = emb.where(F.col("vec_id") < slice_n).localCheckpoint(True)
    t0 = time.time()
    a_expr, cents = ivf_index(sl, n_centroids=n_cells, seed=42)
    a_expr.foreach(lambda r: None)
    t_expr_slice = round(time.time() - t0, 2)

    # GEMM path, full corpus (reuses the slice-seeded centroids: the
    # seed set is an index-build artifact either way)
    t1 = time.time()
    assigned = ivf_assign_gemm(emb, cents).persist()
    n_assigned = assigned.count()
    t_assign = round(time.time() - t1, 2)
    sizes = assigned.groupBy("cell").count().agg(
        F.max("count").alias("mx"), F.avg("count").alias("av"),
        F.count(F.lit(1)).alias("k"),
    ).collect()[0]

    t2 = time.time()
    result = semdedup_cells_gemm(assigned, threshold=0.999).persist()
    n_drop = result.where(F.col("keep") == 0).count()
    t_pair = round(time.time() - t2, 2)
    # every planted dup (the larger id of each pair) must be dropped
    planted_dropped = result.where(
        (F.col("vec_id") >= n_vecs) & (F.col("keep") == 0)
    ).count()
    print(json.dumps({
        "metric": "semdedup_probe", "n_vecs": n_vecs, "dim": dim,
        "n_cells": int(sizes["k"]), "unit": "sec",
        "assign_gemm_sec": t_assign, "pairwise_gemm_sec": t_pair,
        "assign_expr_sec_100k_slice": t_expr_slice,
        "max_cell": int(sizes["mx"]), "avg_cell": round(float(sizes["av"]), 1),
        "n_assigned": int(n_assigned), "n_dropped": int(n_drop),
        "planted": n_plant, "planted_dropped": int(planted_dropped),
        "planted_recall": round(planted_dropped / n_plant, 4),
    }))
    assert planted_dropped == n_plant, "planted exact dups must all drop"


def ingest_probe(n_docs: int = 500_000, n_batches: int = 8) -> None:
    """st22's per-increment cost growth (r9): a signature store
    bootstraps from half of n_docs synthetic documents; the other
    half arrives in n_batches increments. Measures per-batch wall
    time as the store grows — the curve SHOULD rise ~linearly in
    store size with the scan-based join the query ships (the
    docstring's stated trade), and the probe quantifies the slope so
    the bucketed-store deployment note has a number behind it.
    Planted near-dups (every doc in a group of 25 shares its text)
    keep the pair output real."""
    import time

    from oxi_diel_db_spark.operators.dedup import (
        band_hash_expr,
        minhash_signatures,
        sig_est_jaccard,
    )
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("ingest_probe")
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{i}x"), ((F.col("id") / 25).cast("long") * (i + 7)) % 9973)
                for i in range(30)
            ],
        ).alias("text"),
    ).repartition(32)
    half = n_docs // 2
    import tempfile

    work = tempfile.mkdtemp(prefix="ingest_probe_")
    store = f"{work}/sigstore"
    t0 = time.time()
    minhash_signatures(docs.filter(F.col("doc_id") < half)).write.parquet(store)
    print(f"bootstrap {half/1000:.0f}k sigs: {time.time()-t0:.1f}s")
    cuts = [half + (n_docs - half) * i // n_batches for i in range(n_batches + 1)]
    for b in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
        )
        t0 = time.time()
        sig_b = minhash_signatures(batch).localCheckpoint()
        sig_b.write.mode("append").parquet(store)
        store_sigs = spark.read.parquet(store)
        bb_new = sig_b.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
            F.posexplode(band_hash_expr()).alias("band", "bh"))
        bb_old = store_sigs.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
            F.posexplode(band_hash_expr()).alias("band", "bh"))
        n_pairs = (
            bb_old.join(bb_new, ["band", "bh"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
            .select("doc_a", "doc_b", F.round(sig_est_jaccard(), 6).alias("ej"))
            .filter(F.col("ej") >= 0.25).count()
        )
        store_n = half + cuts[b + 1] - half if False else cuts[b + 1]
        print(
            f"batch {b}: +{(cuts[b+1]-cuts[b])/1000:.0f}k docs vs "
            f"{store_n/1000:.0f}k-doc store: {time.time()-t0:.1f}s, "
            f"{n_pairs} pairs"
        )



def cdc_ingest_probe(n_docs: int = 60_000, n_batches: int = 8) -> None:
    """st23's ingest growth curve in BOTH store layouts (r12 verdict
    ask #4), batch-interleaved on one box so the per-batch deltas are
    same-JIT/same-load comparable: a CDC chunk store bootstraps from
    half of n_docs synthetic payloads (operators/multimodal's
    cdc_fixture_table — ~1.2-1.8 KB each, ~30 chunks/doc, doc_id %
    10 == 1 shifted dups keep the dup matches real); the other half
    arrives in n_batches increments ingested into (a) the append-only
    parquet dir (full store scan per batch), (b) the bucketBy(16,
    chash) + sortBy table with a broadcast semi-join of the batch's
    keys, and (c) the COMPACTED per-key count store the registered
    query ships (one row per distinct chunk key, merged every batch —
    the store READ is O(distinct keys) instead of O(all instances);
    see operators/multimodal.cdc_chunk_state). The three layouts are
    written out here by hand as the SCALE.md §18 record; the query
    keeps only the compacted one. All three must produce
    IDENTICAL dup counts per batch (asserted); the per-batch state
    row count vs raw instance count quantifies the read pruning."""
    import tempfile
    import time
    import uuid

    from oxi_diel_db_spark.operators.multimodal import (
        cdc_chunk_state,
        cdc_chunks,
        cdc_fixture_table,
        cdc_state_merge,
    )
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("cdc_ingest_probe")
    docs = spark.range(1, n_docs + 1).select(
        F.col("id").alias("doc_id")
    ).repartition(32)
    half = n_docs // 2
    work = tempfile.mkdtemp(prefix="cdc_ingest_")
    scan_store = f"{work}/scan"
    tbl = f"cdcprobe_{uuid.uuid4().hex[:6]}"
    boot = cdc_chunks(
        cdc_fixture_table(docs.filter(F.col("doc_id") <= half))
    ).localCheckpoint()
    n_boot = boot.count()
    t0 = time.time()
    boot.write.parquet(scan_store)
    t_scan = time.time() - t0
    t0 = time.time()
    (
        # bucket-aligned like the appends: 16 files, not 16 x tasks
        boot.repartition(16, F.col("chash"))
        .write.bucketBy(16, "chash")
        .sortBy("chash")
        .option("path", f"{work}/bkt")
        .format("parquet")
        .saveAsTable(tbl)
    )
    t_bkt = time.time() - t0
    t0 = time.time()
    state_path = [f"{work}/state_v0"]
    cdc_chunk_state(boot).write.parquet(state_path[0])
    t_cmp = time.time() - t0
    n_state0 = spark.read.parquet(state_path[0]).count()
    print(
        f"bootstrap {n_boot / 1e6:.2f}M chunks: plain-write {t_scan:.1f}s"
        f" bucketed-write {t_bkt:.1f}s compacted-write {t_cmp:.1f}s"
        f" ({n_state0} distinct keys)"
    )

    def dup_count(ch_b, store_src):
        st = store_src.select(
            F.col("doc_id").alias("p_doc"),
            F.col("chunk_idx").alias("p_idx"),
            "chash",
        )
        return (
            ch_b.join(st, "chash", "left")
            .withColumn(
                "m",
                (
                    (F.col("p_doc") < F.col("doc_id"))
                    | (
                        (F.col("p_doc") == F.col("doc_id"))
                        & (F.col("p_idx") != F.col("chunk_idx"))
                    )
                ).cast("int"),
            )
            .groupBy("doc_id", "chunk_idx")
            .agg(F.max(F.coalesce("m", F.lit(0))).alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    cuts = [half + (n_docs - half) * i // n_batches for i in range(n_batches + 1)]
    for b in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") > cuts[b]) & (F.col("doc_id") <= cuts[b + 1])
        )
        ch_b = cdc_chunks(cdc_fixture_table(batch)).localCheckpoint()
        t0 = time.time()
        ch_b.write.mode("append").parquet(scan_store)
        d_scan = dup_count(ch_b, spark.read.parquet(scan_store))
        w_scan = time.time() - t0
        t0 = time.time()
        (
            ch_b.repartition(16, F.col("chash"))
            .write.bucketBy(16, "chash")
            .sortBy("chash")
            .mode("append")
            .format("parquet")
            .saveAsTable(tbl)
        )
        spark.catalog.refreshTable(tbl)
        d_bkt = dup_count(
            ch_b,
            spark.table(tbl).join(
                F.broadcast(ch_b.select("chash").distinct()),
                "chash",
                "leftsemi",
            ),
        )
        w_bkt = time.time() - t0
        t0 = time.time()
        prev = spark.read.parquet(state_path[0])
        merged = cdc_state_merge(prev, cdc_chunk_state(ch_b))
        state_path[0] = f"{work}/state_v{b + 1}"
        merged.write.parquet(state_path[0])
        state = spark.read.parquet(state_path[0])
        d_cmp = (
            ch_b.join(state, "chash", "left")
            .select(
                F.coalesce(
                    (
                        (F.col("min_doc") < F.col("doc_id"))
                        | (
                            (F.col("min_doc") == F.col("doc_id"))
                            & (F.col("cnt_min") > 1)
                        )
                    ).cast("int"),
                    F.lit(0),
                ).alias("d")
            )
            .agg(F.sum("d"))
            .collect()[0][0]
        )
        w_cmp = time.time() - t0
        n_state = state.count()  # outside the timed window
        assert d_scan == d_bkt, (b, d_scan, d_bkt)
        assert d_scan == d_cmp, (b, d_scan, d_cmp)
        store_docs = cuts[b + 1]
        print(
            f"batch {b}: +{(cuts[b + 1] - cuts[b]) / 1000:.1f}k docs vs "
            f"{store_docs / 1000:.0f}k-doc store: scan {w_scan:.1f}s "
            f"bucketed+semi {w_bkt:.1f}s compacted {w_cmp:.1f}s "
            f"({n_state} state rows), {d_scan} dup chunks"
        )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def video_probe(n_k: float = 200, base_frames: int = 4) -> None:
    """mm10's decode→aHash→scene-collapse throughput at scale (r8
    verdict ask #5c — the last multimodal dedup tier without a probe;
    images 500k and audio mm14 probes exist). n_k thousand synthetic
    concatenated-P6 frame streams (the real ffmpeg image2pipe wire
    format, byte-different freeze-frame tails within each group of
    16) through the full video_fingerprint pipeline + clustering.
    The planted structure makes the answer closed-form: every group
    of 16 docs must collapse to ONE cluster however long its tail —
    a throughput probe that also re-proves correctness at volume.
    Second pass with base_frames=32 isolates per-FRAME decode cost
    from per-doc overhead (long-video regime)."""
    import time

    from pyspark.sql import Window as W

    from oxi_diel_db_spark.operators.multimodal import (
        video_fingerprint,
        video_stream_fixture_table,
    )
    from oxi_diel_db_spark.session import get_spark

    n = int(n_k * 1000)
    spark = get_spark("video_probe")
    docs = spark.range(n).withColumnRenamed("id", "doc_id").repartition(32)
    docs.limit(10).collect()

    for bf in (base_frames, 32):
        frames_per_doc = bf + 1  # + avg freeze tail (0/1/2 → 1)
        t0 = time.time()
        fps = video_fingerprint(
            # dense_content: the probe plants 12,500 groups — far past
            # the gated ramp fixture's ~850-video content capacity
            # (this probe is what MEASURED that capacity; the gated
            # mm10 bytes are untouched, see the fixture docstring)
            video_stream_fixture_table(
                docs, group=16, base_frames=bf, dense_content=True
            )
        )
        clustered = fps.select(
            "doc_id",
            F.min("doc_id").over(W.partitionBy("fp")).alias("cluster_id"),
        )
        out = clustered.agg(
            F.countDistinct("cluster_id").alias("clusters"),
            F.count(F.lit(1)).alias("docs"),
        ).collect()[0]
        dt = time.time() - t0
        expect = (n + 15) // 16
        print(
            f"video {n_k}k docs x {bf} frames: {dt:.2f}s "
            f"({n / dt / 1000:.1f}k doc/s, "
            f"~{n * frames_per_doc / dt / 1000:.0f}k frame/s), "
            f"{out['clusters']} clusters (expect {expect}) "
            f"over {out['docs']} docs"
        )
        assert out["clusters"] == expect, (out["clusters"], expect)



def kcore_probe(n_edges: int = 10_000_000, k: int = 3) -> None:
    """g6's Matula-Beck peeling at 10M edges on a SKEWED graph (r7
    verdict ask #7): hub-heavy dst distribution (quadratic
    concentration — top node collects ~10³× the median degree) plus
    planted deep-peeling LADDERS (edges i→i+1 and i→i+2): only a
    ladder's end nodes sit below degree 3, and removing one exposes
    exactly one more — a 24-node ladder peels ~11 rounds from each
    end, forcing MULTI-ROUND depth rather than the 1-2 rounds the
    gate corpora show (a bare path would vanish in ONE round: every
    path node already has degree ≤ 2). A planted K5 clique (degree
    4 ≥ k) must survive peeling untouched — asserted through the
    operator's own entry point. Records rounds, per-round surviving
    edge counts, and wall time; the groupBy degree count is map-side
    combinable so the hub skew lands on partial aggregates, not one
    reducer."""
    from oxi_diel_db_spark.session import get_spark
    from oxi_diel_db_spark.operators.graph import k_core

    spark = get_spark("kcore_probe")
    n_nodes = max(1000, n_edges // 10)
    u = F.pmod(F.hash("id", F.lit(1)), F.lit(1_000_000)) / 1_000_000.0
    bulk = spark.range(0, n_edges).select(
        F.pmod(F.hash("id"), F.lit(n_nodes)).alias("src"),
        (u * u * n_nodes).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # 4k disjoint 24-node ladders above the bulk id space (~11 peel
    # rounds, all ladders in lockstep)
    lad_n = 96_000
    lad1 = spark.range(0, lad_n).select(
        (F.lit(n_nodes) + F.col("id")).alias("src"),
        (F.lit(n_nodes) + F.col("id") + 1).alias("dst"),
    ).filter((F.col("id") % 24) != 23)
    lad2 = spark.range(0, lad_n).select(
        (F.lit(n_nodes) + F.col("id")).alias("src"),
        (F.lit(n_nodes) + F.col("id") + 2).alias("dst"),
    ).filter((F.col("id") % 24) < 22)
    # K5 clique above the ladder space: must survive at k=3
    k5_base = n_nodes + lad_n + 10
    k5 = spark.createDataFrame(
        [(k5_base + i, k5_base + j) for i in range(5) for j in range(i + 1, 5)],
        "src long, dst long",
    )
    edges = bulk.unionByName(lad1).unionByName(lad2).unionByName(k5)
    edges.limit(5).collect()

    t0 = time.time()
    # instrumented copy of k_core's loop: same steps, counting rounds
    e = edges.where(F.col("src") != F.col("dst")).distinct()
    cur = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(True)
    )
    rounds, per_round = 0, []
    for _ in range(50):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        bad = deg.where(F.col("deg") < k).select(F.col("src").alias("node"))
        if bad.limit(1).count() == 0:
            break
        rounds += 1
        cur = (
            cur.join(bad, cur.src == bad.node, "left_anti")
            .join(bad, cur.dst == bad.node, "left_anti")
            .localCheckpoint(True)
        )
        per_round.append(int(cur.count()))
    survivors = cur.select("src").distinct().count()
    dt = round(time.time() - t0, 2)
    print(json.dumps({
        "metric": "kcore_probe", "edges": n_edges, "k": k, "unit": "sec",
        "sec": dt, "rounds": rounds, "survivor_nodes": int(survivors),
        "per_round_edges": per_round,
    }))
    # cross-check the operator's own entry point on the plants alone:
    # every ladder node peels, the K5 survives with degree 4
    t1 = time.time()
    plants = edges.filter(F.col("src") >= n_nodes)
    surv = k_core(plants, k=k)
    rows = surv.collect()
    assert len(rows) == 5 and all(r["degree"] == 4 for r in rows), rows
    print(json.dumps({
        "metric": "kcore_probe_plants", "survivors": len(rows),
        "sec": round(time.time() - t1, 2),
    }))



def dedup_probe(sf_dir: str, names: "list[str] | None" = None) -> None:
    """Dedup-tier growth-law probe over a REAL generated corpus dir
    (r10 verdict #6): times the pair-bound dedup entries on corpora of
    differing duplication density so the tier's growth is
    characterized on BOTH regimes —

    * data/sf1 (gen_sf1 default): 50k docs in 10-member near-dup
      clusters — NATURAL duplication (web-crawl-like);
    * data/sf3 (gen_sf1 ×30): 150k docs in 30-member clusters — the
      ADVERSARIAL density that stresses pair output ~9× harder at
      only 3× the rows.

    A pair-bound operator's cost model is a·rows + b·pairs; two
    corpora with different (rows, pairs) mixes pin both terms, which
    one corpus cannot. Usage:
      python tools/scale_probe.py dedup data/sf1 [names...]
    Prints one JSON line; run solo (sweep-concurrency lesson, r9)."""
    import __spark_entry__ as E
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("dedup_probe")
    qs = E.queries()
    names = names or [
        "d2_ngram_jaccard",
        "d8_dedup_clusters",
        "d12_containment_pairs",
        "d13_neardup_curation",
        "d20_substring_dedup",
        "p12_leakage_safe_split",
    ]
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    # warm parquet footers + session
    qs["d1_exact_dedup"](spark, sf_dir).collect()
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        qs[name](spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 1)
    print(
        json.dumps(
            {
                "metric": "dedup_probe",
                "dir": sf_dir,
                "docs": n_docs,
                "unit": "sec",
                "timings": timings,
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "docs":
        docs_probe(int(float(sys.argv[2]) * 1000) if len(sys.argv) > 2 else 500_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "vectors":
        vectors_probe(int(float(sys.argv[2]) * 1000) if len(sys.argv) > 2 else 200_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "dedup":
        dedup_probe(sys.argv[2] if len(sys.argv) > 2 else "data/sf1", sys.argv[3:] or None)
    elif len(sys.argv) > 1 and sys.argv[1] == "bfs":
        bfs_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "cc":
        cc_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "graph":
        graph_probe(
            int(float(sys.argv[2]) * 1_000_000) if len(sys.argv) > 2 else 5_000_000
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "asof_skew":
        asof_skew_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 100)
    elif len(sys.argv) > 1 and sys.argv[1] == "streaming":
        streaming_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif len(sys.argv) > 1 and sys.argv[1] == "cdc":
        cdc_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 5)
    elif len(sys.argv) > 1 and sys.argv[1] == "bucketed":
        bucketed_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 20)
    elif len(sys.argv) > 1 and sys.argv[1] == "sessions":
        sessions_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 20)
    elif len(sys.argv) > 1 and sys.argv[1] == "images":
        images_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 100)
    elif len(sys.argv) > 1 and sys.argv[1] == "ledger":
        ledger_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 100)
    elif len(sys.argv) > 1 and sys.argv[1] == "pit":
        pit_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 30)
    elif len(sys.argv) > 1 and sys.argv[1] == "ks":
        ks_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 50)
    elif len(sys.argv) > 1 and sys.argv[1] == "pca":
        pca_probe(int(float(sys.argv[2]) * 1_000_000) if len(sys.argv) > 2 else 2_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "bpe":
        bpe_probe(int(float(sys.argv[2]) * 1_000_000) if len(sys.argv) > 2 else 2_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "semdedup":
        semdedup_probe(
            int(float(sys.argv[2]) * 1_000_000) if len(sys.argv) > 2 else 10_000_000,
            n_cells=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "ingest":
        ingest_probe(int(float(sys.argv[2]) * 1000) if len(sys.argv) > 2 else 500_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "cdc_ingest":
        cdc_ingest_probe(
            int(float(sys.argv[2]) * 1000) if len(sys.argv) > 2 else 60_000
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "video":
        video_probe(float(sys.argv[2]) if len(sys.argv) > 2 else 200)
    elif len(sys.argv) > 1 and sys.argv[1] == "kcore":
        kcore_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "retrieval":
        retrieval_probe(
            int(float(sys.argv[2]) * 1_000_000) if len(sys.argv) > 2 else 10_000_000
        )
    else:
        main()
