"""Streaming correctness: batch/stream equivalence (the Structured
Streaming contract for event-time windows) + stateful dedup."""

from __future__ import annotations

import datetime as dt
import sys
import uuid

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark import tables
from oxi_diel_db_spark.session import conf_scope
from oxi_diel_db_spark.streaming import ops

SF = "/root/testdata/sf0.001"


def _batch_events(spark):
    from oxi_diel_db_spark.tables import load

    return load(spark, "events", SF)


def test_tumbling_stream_equals_batch(spark):
    stream = ops.read_events_stream(spark, SF)
    got = ops.run_stream_to_memory(ops.tumbling_counts(stream), spark)
    exp = ops.tumbling_counts(_batch_events(spark))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_sliding_stream_equals_batch(spark):
    stream = ops.read_events_stream(spark, SF)
    got = ops.run_stream_to_memory(ops.sliding_counts(stream), spark)
    exp = ops.sliding_counts(_batch_events(spark))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_sliding_each_event_in_two_windows(spark):
    n_events = _batch_events(spark).count()
    total = (
        ops.sliding_counts(_batch_events(spark))
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
    )
    assert total == 2 * n_events


def test_session_window_semantics(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=5)),  # same session (gap 10m)
        (1, t0 + dt.timedelta(minutes=30)),  # new session
        (2, t0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sess = ops.session_windows(ev, "10 minutes").collect()
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    first = min(by_user[1], key=lambda r: r["session_start"])
    assert first["n_events"] == 2
    # session end = last event + gap
    assert first["session_end"] == t0 + dt.timedelta(minutes=15)


def test_stream_dedup_drops_duplicates(spark, tmp_path):
    ev = _batch_events(spark).limit(200)
    dup_dir = str(tmp_path / "dup_events")
    ev.union(ev).write.parquet(dup_dir)  # every event twice
    schema = ev.schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = ops.deduped_stream(stream).select("event_id")
    got = ops.run_stream_to_memory(deduped, spark, mode="append")
    assert got.count() == 200
    assert got.distinct().count() == 200


def test_watermarked_append_drops_nothing_when_ordered(spark):
    stream = ops.read_events_stream(spark, SF)
    got = ops.run_stream_to_memory(
        ops.watermarked_tumbling(stream), spark, mode="append"
    )
    # append emits only watermark-finalized windows; with a single file
    # the final windows stay open, so got ⊆ batch — check containment
    exp = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in ops.tumbling_counts(_batch_events(spark))
        .select("win_start", "event_type", "n")
        .collect()
    }
    for r in got.collect():
        assert exp.get((r["win_start"], r["event_type"])) == r["n"]


def test_stateful_counts_match_batch(spark):
    got = ops.run_stream_to_memory(
        ops.stateful_user_counts(ops.read_events_stream(spark, SF)),
        spark,
        mode="update",
    )
    import pyspark.sql.functions as F

    exp = {
        r["user_id"]: r["n"]
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # single file → single trigger → one (final) row per user
    final = {r["user_id"]: r["n_events"] for r in got.collect()}
    assert final == exp


def test_parquet_sink_with_checkpoint(spark, tmp_path):
    """T8: file sink + checkpoint — the durable exactly-once path."""
    stream = ops.read_events_stream(spark, SF)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.select("event_id", "ts", "event_type")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    ops.drain(q)
    back = spark.read.parquet(out)
    assert back.count() == _batch_events(spark).count()
    # restart with same checkpoint: no files left to process → no dups
    q2 = (
        stream.select("event_id", "ts", "event_type")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    ops.drain(q2)
    assert spark.read.parquet(out).count() == _batch_events(spark).count()


def test_foreach_batch_sink(spark):
    """T8: foreachBatch — arbitrary exactly-once-per-epoch sink logic."""
    seen = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.count()

    q = (
        ops.read_events_stream(spark, SF)
        .writeStream.foreachBatch(sink)
        .start()
    )
    ops.drain(q)
    assert sum(seen.values()) == _batch_events(spark).count()


def test_stream_stream_join(spark):
    """Stream-stream inner join with watermarks + time-range condition:
    purchases joined to the same user's clicks within the prior hour.
    Result must equal the equivalent batch join."""
    import pyspark.sql.functions as F

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return purchases, clicks

    cond = lambda p, c: (  # noqa: E731
        (p.p_user == c.c_user)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
    )

    sp, sc = split(ops.read_events_stream(spark, SF))
    sc = sc.withWatermark("c_ts", "2 hours")
    sp = sp.withWatermark("p_ts", "2 hours")
    streamed = ops.run_stream_to_memory(
        sp.join(sc, cond(sp, sc), "inner").select("p_id", "c_id"), spark, mode="append"
    )
    bp, bc = split(_batch_events(spark))
    batch = bp.join(bc, cond(bp, bc), "inner").select("p_id", "c_id")
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_available_now_trigger(spark):
    """Trigger.AvailableNow — the recommended one-shot backfill trigger:
    processes everything available in rate-limited batches, then stops
    on its own (no processAllAvailable poke needed)."""
    import uuid

    stream = ops.read_events_stream(spark, SF)
    name = f"an_{uuid.uuid4().hex[:8]}"
    q = (
        ops.tumbling_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table(name).collect()))
    exp = sorted(map(tuple, ops.tumbling_counts(_batch_events(spark)).collect()))
    assert got == exp


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates landing within the
    watermark delay collapse to one row; state is bounded (semantics
    identical to st4 here because all duplicates are immediate)."""
    ev = _batch_events(spark).limit(200)
    dup_dir = str(tmp_path / "dupw_events")
    ev.union(ev).write.parquet(dup_dir)
    stream = spark.readStream.schema(ev.schema).parquet(dup_dir)
    deduped = ops.deduped_stream_within_watermark(stream).select("event_id")
    got = ops.run_stream_to_memory(deduped, spark, mode="append")
    assert got.count() == 200
    assert got.distinct().count() == 200


def test_rollup_delta_sink_equals_batch(spark, tmp_path):
    """Incremental rollup (delta-per-microbatch + merge-on-read) must
    equal the one-shot batch aggregate, across multiple micro-batches
    and after compaction."""
    ev = _batch_events(spark)
    src = str(tmp_path / "ev_src")
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    ev.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    q = ops.rollup_delta_sink(stream, out, ckpt, width="1 hour")
    ops.drain(q)

    import glob

    n_deltas = len(glob.glob(out + "/deltas/*.parquet"))
    assert n_deltas >= 4  # one delta set per micro-batch

    exp = {
        (r["win_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in ops.tumbling_counts(ev).collect()
    }

    def current():
        return {
            (r["win_start"], r["event_type"]): (r["n"], r["value_cents"] / 100.0)
            for r in ops.read_rollup(spark, out).collect()
        }

    assert current() == exp

    ops.compact_rollup(spark, out)
    assert current() == exp
    assert len(glob.glob(out + "/deltas/*.parquet")) < n_deltas


def test_rollup_compaction_keeps_concurrent_deltas(spark, tmp_path):
    """ADVICE r1 (medium): deltas appended while a compaction runs must
    survive it, and a crash mid-compaction must not change the view."""
    import glob
    import os

    ev = _batch_events(spark)
    out = str(tmp_path / "rollup")
    half = ev.filter(F.col("event_id") % 2 == 0)
    rest = ev.filter(F.col("event_id") % 2 != 0)
    delta1 = ops.tumbling_counts(half).select(
        "win_start", "event_type", "n",
        F.round(F.col("total_value") * 100, 0).cast("bigint").alias("value_cents"),
    )
    delta1.write.mode("append").parquet(out + "/deltas")
    ops.compact_rollup(spark, out)
    assert glob.glob(out + "/MANIFEST-1.json")

    # a crash mid-compaction = an orphan output dir with no manifest
    os.makedirs(out + "/compacted/deadbeef_orphan")

    # late delta lands AFTER the snapshot (simulates the in-flight sink)
    delta2 = ops.tumbling_counts(rest).select(
        "win_start", "event_type", "n",
        F.round(F.col("total_value") * 100, 0).cast("bigint").alias("value_cents"),
    )
    delta2.write.mode("append").parquet(out + "/deltas")

    exp = {
        (r["win_start"], r["event_type"], r["n"],
         int(round(r["total_value"] * 100)))
        for r in ops.tumbling_counts(ev).collect()
    }
    assert {tuple(r) for r in ops.read_rollup(spark, out).collect()} == exp
    ops.compact_rollup(spark, out)  # consumes delta2, sweeps the orphan
    assert {tuple(r) for r in ops.read_rollup(spark, out).collect()} == exp
    assert not os.path.exists(out + "/compacted/deadbeef_orphan")
    assert not glob.glob(out + "/deltas/*.parquet")


def test_parse_kafka_events(spark):
    """Kafka JSON payload parse (the broker-free half of the Kafka
    source): good payloads land typed, malformed ones land NULL."""
    import json

    good = json.dumps({"event_id": 7, "ts": "2024-01-01T10:30:00",
                       "user_id": 3, "event_type": "click",
                       "value": 1.5, "props": "{}"})
    raw = spark.createDataFrame(
        [(b"k1", good.encode(), dt.datetime(2024, 1, 1, 10, 30, 5)),
         (b"k2", b"not json at all", dt.datetime(2024, 1, 1, 10, 30, 6))],
        "key binary, value binary, timestamp timestamp",
    )
    rows = {r["event_id"]: r for r in ops.parse_kafka_events(raw).collect()}
    assert rows[7]["event_type"] == "click"
    assert rows[7]["value"] == 1.5
    assert rows[7]["ts"] == dt.datetime(2024, 1, 1, 10, 30)
    assert rows[7]["kafka_ts"] == dt.datetime(2024, 1, 1, 10, 30, 5)
    assert None in rows  # malformed payload → NULL fields, stream alive


def test_rate_source_feeds_operator_chain(spark):
    """The rate source drives the same tumbling aggregate used on the
    file/Kafka sources — end-to-end streaming smoke with no external
    system. The source is unbounded, so the query runs for a bounded
    wall-clock window and is then stopped (no processAllAvailable)."""
    import time
    import uuid

    ev = ops.read_rate_events(spark, rows_per_second=500)
    agg = ops.tumbling_counts(ev, width="1 minute")
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if rows and sum(r["n"] for r in rows) >= 500:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    assert rows, "rate source produced no micro-batch output"
    assert {r["event_type"] for r in rows} <= {"view", "click", "purchase"}
    assert all(r["n"] > 0 for r in rows)


def test_late_data_replay_drops_beyond_watermark(spark, tmp_path):
    """T4 end-to-end with REAL drops: the late-replay harness must keep
    late rows within allowed lateness (double-counting their window),
    drop late rows beyond it (window keeps its on-time count), and emit
    only finalized windows. Pins the Spark >=3.4 dual-watermark rule the
    harness depends on (late filter = previous batch's watermark)."""
    import datetime

    import uuid

    T = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def at(hours, n, typ):
        return [
            (T + datetime.timedelta(hours=hours, minutes=i + 1), typ)
            for i in range(n)
        ]

    # hours relative to anchor T0 = date_trunc(hour, max) = T+0h... build
    # events spanning [T-9h, T]: anchor hour = T (max ts in [T, T+1h))
    rows = (
        at(-9, 3, "a")      # old head (b0 band, window [T-9h,T-8h))
        + at(-7, 2, "b")    # dropped-late source band [T-7h,T-6h)
        + at(-5, 2, "c")    # b1 band
        + at(-4, 4, "d")    # kept-late source band [T-4h,T-3h)
        + at(-2, 2, "e")    # tail band
        + at(0, 1, "f")     # max ts: T+00:01 -> final wm T-00:59
    )
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    anchor = T
    work = str(tmp_path / "late")
    import os

    os.makedirs(work, exist_ok=True)
    stream = ops.replay_stream(spark, ops.write_late_replay(ev, anchor), work)
    agg = ops.watermarked_tumbling(stream, width="1 hour", late="1 hour")
    out = ops.run_stream_to_memory(agg, spark, mode="append")
    got = {(r["win_start"], r["event_type"]): r["n"] for r in out.collect()}
    # kept-late band doubles; dropped-late band stays at its on-time count
    assert got[(T - datetime.timedelta(hours=4), "d")] == 8
    assert got[(T - datetime.timedelta(hours=7), "b")] == 2
    assert got[(T - datetime.timedelta(hours=9), "a")] == 3
    # final watermark = max ts - 1h = T-0:59: window [T-2h,T-1h) (end
    # T-1h) finalizes and emits, but the max-ts window [T,T+1h) doesn't
    assert got[(T - datetime.timedelta(hours=2), "e")] == 2
    assert (T, "f") not in got


def _st9_bands(spark):
    ev = _batch_events(spark).select("ts", "event_type")
    anchor = ev.agg(F.date_trunc("hour", F.max("ts"))).collect()[0][0]
    return ops.write_late_replay(ev, anchor)


def _st10_bands(spark):
    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    mid = ev.agg(F.max("ts")).collect()[0][0] - dt.timedelta(days=7)
    return [ev.filter(F.col("ts") < F.lit(mid)), ev.filter(F.col("ts") >= F.lit(mid))]


def _arrival_bands(table, key, *cols):
    def bands(spark):
        from oxi_diel_db_spark.tables import load

        return ops.split_arrivals(load(spark, table, SF).select(key, *cols), key)[1]

    return bands


#: the bands each replay-driven query hands to replay_stream
REPLAY_BANDS = {
    "st9_events": _st9_bands,
    "st10_events": _st10_bands,
    "st21_embeddings": _arrival_bands("embeddings", "vec_id", "embedding"),
    "st22_documents": _arrival_bands("documents", "doc_id", "text"),
    "st23_documents": _arrival_bands("documents", "doc_id"),
}


@pytest.mark.parametrize("case", sorted(REPLAY_BANDS))
def test_replay_stream_takes_the_band_schema_without_a_job(spark, tmp_path, case):
    """replay_stream's stream carries the schema a parquet read of its
    replay directory infers, and building it runs only the band writes,
    one job each: no footer-inference job reads back what was just
    written."""
    bands = REPLAY_BANDS[case](spark)
    sc = spark.sparkContext
    group = f"replay-{case}-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        stream = ops.replay_stream(spark, bands, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == len(bands)
    assert stream.isStreaming
    assert stream.schema == spark.read.parquet(str(tmp_path / "replay")).schema


def _st22_store(spark):
    from oxi_diel_db_spark.operators.dedup import minhash_signatures

    return minhash_signatures(tables.load(spark, "documents", SF).select("doc_id", "text"))


def _st23_store(spark):
    from oxi_diel_db_spark.operators.multimodal import (
        cdc_chunk_state,
        cdc_chunks,
        cdc_fixture_table,
        cdc_state_merge,
    )

    docs = tables.load(spark, "documents", SF).select("doc_id")
    state = cdc_chunk_state(cdc_chunks(cdc_fixture_table(docs.filter("doc_id % 2 = 0"))))
    other = cdc_chunk_state(cdc_chunks(cdc_fixture_table(docs.filter("doc_id % 2 = 1"))))
    return cdc_state_merge(state, other)


#: the frames st22 (signature store) and st23 (chunk-state version)
#: write and read back in every micro-batch
STORES = {"st22_sigstore": _st22_store, "st23_chunkstate": _st23_store}


@pytest.mark.parametrize("case", sorted(STORES))
def test_write_read_back_takes_the_written_schema_without_a_job(spark, tmp_path, case):
    """write_read_back runs the jobs of the write alone: no footer-
    inference job reads back the store just written, and the read-back
    has the schema and rows of an inferring parquet read."""
    df = STORES[case](spark).localCheckpoint()
    n_write, _ = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    store = str(tmp_path / "store")
    n_back, back = _jobs(spark, lambda: ops.write_read_back(df, store))
    assert n_back == n_write
    n_append, back = _jobs(spark, lambda: ops.write_read_back(df, store, "append"))
    assert n_append == n_write
    inferred = spark.read.parquet(store)
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect())
    assert back.count() == 2 * df.count() > 0


#: the queries that end with a read of a directory they wrote themselves
READ_BACKS = [
    "st10_stream_upsert_sink",
    "st11_stream_dq_monitor",
    "st21_streaming_ivf_upsert",
    "st22_streaming_neardup_ingest",
    "st23_streaming_cdc_ingest",
]


def _jobs(spark, action):
    """(number of Spark jobs ``action`` starts on this thread, its result)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    group = f"readback-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("name", READ_BACKS)
def test_end_of_query_read_back_runs_no_inference_job(spark, monkeypatch, name):
    """The query's final read takes the schema it wrote: it runs no job
    where a plain read of the same directory runs its footer-inference
    job (so the build runs one job fewer), and it has the schema and
    rows of that plain read."""
    from oxi_diel_db_spark.queries import load_registry

    read_back = ops.read_back
    reads = []

    def spy(spark_, path, schema):
        if sys._getframe(1).f_code is ops.write_read_back.__code__:  # a store read
            return read_back(spark_, path, schema)
        n, df = _jobs(spark_, lambda: read_back(spark_, path, schema))
        reads.append((path, n, df))
        return df

    monkeypatch.setattr(ops, "read_back", spy)
    load_registry()[name].build(spark, SF)
    ((path, n_back, back),) = reads
    n_plain, plain = _jobs(spark, lambda: spark.read.parquet(path))
    assert (n_back, n_plain) == (0, 1)
    assert back.schema == plain.schema
    assert sorted(back.collect()) == sorted(plain.collect())
    assert back.count() > 0


def test_split_arrivals_bootstrap_half_and_four_bands(spark):
    """Keys below half of max(key) + 1 bootstrap; the rest arrive as
    four contiguous key-range bands that cover them exactly once."""
    df = spark.range(0, 23).withColumnRenamed("id", "k")  # half = 23 // 2
    boot, bands = ops.split_arrivals(df, "k")
    assert sorted(r.k for r in boot.collect()) == list(range(11))
    got = [sorted(r.k for r in b.collect()) for b in bands]
    assert len(got) == 4 and all(got)
    assert [k for b in got for k in b] == list(range(11, 23))


def test_stream_upsert_sink_matches_batch_argmax(spark):
    """st10's contract: after bootstrapping + streaming foreachBatch
    merges, the final table equals the one-shot batch argmax per user
    over the whole event history (computed here independently)."""
    from pyspark.sql import Window

    from oxi_diel_db_spark.queries import load_registry

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in load_registry()["st10_stream_upsert_sink"].build(spark, sf).collect()
    }
    ev = tables.load(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["event_type"], r["value"], r["ts"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want and len(got) > 0


def test_transform_with_state_matches_batch(spark):
    """The new-API stateful operator (transformWithStateInPandas)
    produces, as its last emission per key, exactly the batch
    aggregate. Skips where the container lacks the protobuf package
    the API's Python driver worker requires."""
    import pytest

    from oxi_diel_db_spark.streaming import ops

    if not ops.have_transform_with_state():
        pytest.skip("google.protobuf absent: transformWithState worker cannot start")
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = ops.read_events_stream(spark, "/root/testdata/sf0.001")
        tbl = ops.run_stream_to_memory(
            ops.running_totals_tws(stream), spark, mode="update"
        )
        last = (
            tbl.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
        )
        from oxi_diel_db_spark.tables import load

        batch = (
            load(spark, "events", "/root/testdata/sf0.001")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        assert last.exceptAll(batch).count() == 0
        assert batch.exceptAll(last).count() == 0
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-resume correctness: a stateful aggregation is driven
    over half the replay files, STOPPED, then a NEW query object is
    started from the same checkpoint and fed the rest. The file source
    must not re-process the pre-stop files (no double counting) and
    the state store must resume (no losses): the final complete-mode
    output equals the one-shot batch aggregate."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from oxi_diel_db_spark.tables import load

    ev = load(spark, "events", "/root/testdata/sf0.001")
    # 4-file replay split by event_id stripe, mtime-ordered
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    for i in range(4):
        tmp = str(tmp_path / f"band{i}")
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(replay, f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + i * 10,) * 2)

    # stage the first two files only
    live = str(tmp_path / "live")
    os.makedirs(live)
    for i in range(2):
        shutil.copy2(os.path.join(replay, f"b{i}.parquet"), live)

    schema = spark.read.parquet(replay).schema
    ckpt = str(tmp_path / "ckpt")

    def start(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start("ckpt_leg1")
    ops.drain(q1)
    seen_leg1 = {r["event_type"]: r["n"] for r in spark.table("ckpt_leg1").collect()}
    assert sum(seen_leg1.values()) == ev.filter(F.col("event_id") % 4 < 2).count()

    # deliver the remaining files, restart from the SAME checkpoint
    for i in range(2, 4):
        shutil.copy2(os.path.join(replay, f"b{i}.parquet"), live)
    q2 = start("ckpt_leg2")
    ops.drain(q2)

    got = {
        (r["event_type"]): (r["n"], r["cents"])
        for r in spark.table("ckpt_leg2").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["cents"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert got == want  # exactly-once: nothing lost, nothing doubled


def test_stream_dq_monitor_ledger(spark):
    """st11: the per-batch quality ledger re-aggregates to exactly the
    batch audit, and carries batch attribution."""
    from pyspark.sql import functions as F

    from oxi_diel_db_spark.queries import load_registry

    reg = load_registry()
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    out = {r["constraint"]: r for r in reg["st11_stream_dq_monitor"].build(
        spark, "/root/testdata/sf0.001").collect()}
    # the ledger's dynamic overwrite is a write option, not a session flip
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode
    assert set(out) == {"enum_event_type", "notnull_value", "value_range_0_1000"}
    from oxi_diel_db_spark.tables import load

    ev = load(spark, "events", "/root/testdata/sf0.001")
    n = ev.count()
    bad_enum = ev.filter(~F.col("event_type").isin("view", "click", "purchase", "signup")).count()
    assert out["enum_event_type"]["n_checked"] == n
    assert out["enum_event_type"]["n_violations"] == bad_enum
    assert out["notnull_value"]["n_violations"] == 0


def test_rocksdb_state_store_drop_in(spark):
    """State-store backend swap: the tumbling aggregation produces the
    identical result under RocksDBStateStoreProvider (the backend a
    real cluster uses for large state) as under the default HDFS-backed
    store — the streaming operators carry no store-specific
    assumptions."""
    from pyspark.sql import functions as F

    from oxi_diel_db_spark.streaming import ops

    def run():
        stream = ops.read_events_stream(spark, "/root/testdata/sf0.001")
        return {
            (str(r["win_start"]), r["event_type"]): (r["n"], r["total_value"])
            for r in ops.run_stream_to_memory(
                ops.tumbling_counts(stream, "1 hour"), spark
            ).collect()
        }

    baseline = run()
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": provider}):
        assert run() == baseline


def test_st12_compaction_cycles_repeat_invocation(spark):
    """st12 (two ingest phases, two manifest-committed compactions) must
    be rerunnable in one session — uuid'd scratch dirs, no shared
    checkpoints — and deterministic: both invocations equal the one-shot
    batch rollup."""
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.queries._util import t as _t

    reg = load_registry()
    sf = "/root/testdata/sf0.001"
    a = {tuple(r) for r in reg["st12_compaction_cycles"].build(spark, sf).collect()}
    b = {tuple(r) for r in reg["st12_compaction_cycles"].build(spark, sf).collect()}
    assert a == b and len(a) > 0
    ev = _t(spark, sf, "events")
    batch = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("value_cents"),
        )
    )
    assert a == {tuple(r) for r in batch.collect()}


def test_st13_left_outer_repeat_and_null_tier(spark):
    """st13 must be rerunnable in one session and deterministic, and
    its result must actually contain BOTH tiers: matched pairs and
    watermark-expired NULL-padded views."""
    from oxi_diel_db_spark.queries import load_registry

    reg = load_registry()
    sf = "/root/testdata/sf0.001"
    a = {tuple(r) for r in reg["st13_stream_left_outer_join"].build(spark, sf).collect()}
    b = {tuple(r) for r in reg["st13_stream_left_outer_join"].build(spark, sf).collect()}
    assert a == b and len(a) > 0
    nulls = [r for r in a if r[1] is None]
    matched = [r for r in a if r[1] is not None]
    assert nulls and matched


def test_time_travel_snapshots_and_vacuum(spark, tmp_path):
    """retain_history=True keeps every compaction's base readable via
    as_of=N; the default vacuum removes old bases/manifests. Snapshot 1
    must ignore rows appended after manifest 1 committed."""
    import os

    out = str(tmp_path / "rollup")
    d1 = spark.createDataFrame(
        [("2024-01-01 00:10:00", "view", 1.0)], "ts string, event_type string, value double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    d2 = spark.createDataFrame(
        [("2024-01-01 01:10:00", "click", 2.0)], "ts string, event_type string, value double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")

    def _append(df):
        (
            df.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum((F.round(F.col("value") * 100, 0)).cast("bigint")).alias("value_cents"))
            .select(F.col("win.start").alias("win_start"), "event_type", "n", "value_cents")
            .write.mode("append").parquet(f"{out}/deltas")
        )

    _append(d1)
    ops.compact_rollup(spark, out, retain_history=True)
    _append(d2)
    ops.compact_rollup(spark, out, retain_history=True)

    snap1 = {tuple(r) for r in ops.read_rollup(spark, out, as_of=1).collect()}
    latest = {tuple(r) for r in ops.read_rollup(spark, out).collect()}
    assert {r[1] for r in snap1} == {"view"}
    assert {r[1] for r in latest} == {"view", "click"}
    assert os.path.exists(f"{out}/MANIFEST-1.json") and os.path.exists(f"{out}/MANIFEST-2.json")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no manifest"):
        ops.read_rollup(spark, out, as_of=0).collect()

    # default compaction vacuums: only the newest manifest survives
    _append(d1)
    ops.compact_rollup(spark, out)
    assert not os.path.exists(f"{out}/MANIFEST-1.json")
    assert not os.path.exists(f"{out}/MANIFEST-2.json")
    assert os.path.exists(f"{out}/MANIFEST-3.json")


def test_state_metadata_source_lists_operator(spark):
    """st15's sibling surface: format('state-metadata') enumerates the
    checkpoint's stateful operators — name, store, partition count,
    batch range — the first question state debugging asks."""
    import tempfile

    from pyspark.sql import functions as F

    from oxi_diel_db_spark.streaming import ops

    work = tempfile.mkdtemp(prefix="st15_meta_")
    stream = ops.read_events_stream(spark, SF, max_files_per_trigger=None)
    counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        counts.writeStream.format("memory")
        .queryName("st15_meta_demo")
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = spark.read.format("state-metadata").load(f"{work}/ckpt").collect()
    assert len(meta) == 1
    row = meta[0].asDict()
    assert row["operatorName"] == "stateStoreSave"
    assert row["numPartitions"] >= 1
    assert row["maxBatchId"] >= 0


def test_python_stream_source_multibatch_equals_batch(spark):
    """The events_replay Python streaming source must produce identical
    results whether the replay is one micro-batch or many (batchrows
    forces 4+ triggers at sf0.001) — offset slicing loses/duplicates
    nothing. Registration is idempotent (driver invokes queries()
    repeatedly in one session)."""
    from pyspark.sql import functions as F

    from oxi_diel_db_spark.sources.events_replay import register_events_replay
    from oxi_diel_db_spark.streaming import ops
    from oxi_diel_db_spark.tables import load

    register_events_replay(spark)
    register_events_replay(spark)  # idempotent re-registration

    def run(batchrows: int):
        raw = (
            spark.readStream.format("events_replay")
            .option("path", f"{SF}/events.parquet")
            .option("batchrows", str(batchrows))
            .load()
            .withColumn("ts", F.timestamp_micros(F.col("ts")))
        )
        agg = raw.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("ts").alias("max_ts"),  # event-time survives the boundary
        )
        return {
            r["event_type"]: (r["n"], r["max_ts"])
            for r in ops.run_stream_to_memory(agg, spark, mode="complete").collect()
        }

    multi = run(300)   # ~4 triggers over 1000 rows
    single = run(10**6)  # one trigger
    assert multi == single and len(multi) > 0

    # micro-batch count follows ceil(rows / batchrows) — the tunable
    # overhead knob of r7 verdict ask #6 (st16 pays ~2.3 s/trigger at
    # sf0.1, so the registered query sets batchrows=100000 for ONE
    # data trigger at sf0.1's ~20k events — st13's cadence-invariance
    # argument; this asserts the cadence contract the tuning relies on)
    import math

    n_rows = spark.read.parquet(f"{SF}/events.parquet").count()
    raw = (
        spark.readStream.format("events_replay")
        .option("path", f"{SF}/events.parquet")
        .option("batchrows", "300")
        .load()
    )
    agg = raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("st16_cadence_probe")
        .start()
    )
    ops.drain(q)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == math.ceil(n_rows / 300)
    ev = load(spark, "events", SF)
    want = {
        r["event_type"]: (r["n"], r["max_ts"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ts"))
        .collect()
    }
    assert multi == want


def test_st17_rocksdb_provider_actually_engages(spark):
    """st17's gate proves VALUES are provider-independent; this proves
    the RocksDB provider is actually the one running (native rocksdb
    custom metrics in the stateOperators progress — absent under the
    default HDFS-backed provider) and that results equal st1's on the
    same input."""
    import json

    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.streaming import ops

    sf = "/root/testdata/sf0.001"
    reg = load_registry()
    base = sorted(map(tuple, reg["st1_tumbling_window"].build(spark, sf).collect()))
    got = sorted(map(tuple, reg["st17_rocksdb_window"].build(spark, sf).collect()))
    assert got == base

    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": provider}):
        stream = ops.read_events_stream(spark, sf)
        q = (
            ops.tumbling_counts(stream, "1 hour")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("st17_probe")
            .start()
        )
        ops.drain(q)
        progress = q.lastProgress  # a stopped query keeps its progress
    ops_metrics = progress["stateOperators"]
    assert ops_metrics, json.dumps(progress)[:500]
    custom = ops_metrics[0].get("customMetrics", {})
    assert any("rocksdb" in k.lower() for k in custom), sorted(custom)[:10]


def test_st19_within_watermark_drops_near_dups_and_expires_state(spark):
    """dropDuplicatesWithinWatermark: a redelivery inside the
    watermark horizon is dropped; a duplicate arriving AFTER the key's
    state expired passes through — the bounded-state trade st19's
    docstring claims, pinned on an injected stream."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="st19_")
    rows1 = [(1, "2024-01-01 00:00:00", 10), (2, "2024-01-01 00:30:00", 20),
             (1, "2024-01-01 00:40:00", 10)]          # near-dup of key 1
    rows2 = [(9, "2024-03-01 00:00:00", 90)]           # advances watermark
    # the far dup must land TWO batches after the watermark-advancing
    # row: the watermark is recomputed from the PREVIOUS batch's max
    # event time at batch start, so state eviction driven by row 9's
    # timestamp first applies in the batch after the one that read it
    rows3 = [(8, "2024-03-01 00:05:00", 80)]           # filler trigger
    rows4 = [(1, "2024-03-01 00:10:00", 11)]           # far dup: state expired
    for i, rows in enumerate([rows1, rows2, rows3, rows4]):
        df = spark.createDataFrame(rows, "k int, ts string, v int").select(
            "k", F.col("ts").cast("timestamp").alias("ts"), "v"
        )
        p = os.path.join(work, f"b{i}")
        df.coalesce(1).write.parquet(p)
        part = [f for f in os.listdir(p) if f.startswith("part-")][0]
        os.rename(os.path.join(p, part), os.path.join(work, f"f{i}.parquet"))
        os.utime(os.path.join(work, f"f{i}.parquet"),
                 (1_000_000_000 + i * 10,) * 2)
    schema = "k int, ts timestamp, v int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(work + "/f*.parquet")
    )
    name = f"st19_{uuid.uuid4().hex[:8]}"
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    ops.drain(q)
    got = sorted((r["k"], r["v"]) for r in spark.table(name).collect())
    # key 1's 00:40 redelivery dropped (inside horizon); its March
    # occurrence kept (state expired after the watermark passed)
    assert got == [(1, 10), (1, 11), (2, 20), (8, 80), (9, 90)]


def test_st20_stream_scoring_equals_batch(spark):
    """The streamed classifier scores must equal ml17's batch scoring
    row-for-row on the same corpus — the stream==batch contract that
    makes in-stream model serving trustworthy."""
    from oxi_diel_db_spark.queries import load_registry

    sf = "/root/testdata/sf0.001"
    reg = load_registry()
    streamed = {
        r["doc_id"]: (r["p_pass"], r["predicted"])
        for r in reg["st20_stream_model_scoring"].build(spark, sf).collect()
    }
    batch = {
        r["doc_id"]: (r["p_pass"], r["predicted"])
        for r in reg["ml17_quality_classifier"].build(spark, sf).collect()
    }
    assert streamed == batch


def test_st21_maintained_index_equals_batch_assignment(spark):
    """st21's core invariant at the INDEX level (the registered gate
    checks the search results; this pins the store): after the stream
    drains, the segment store holds every vector exactly once, and
    each (vec_id, cell) equals the one-shot batch assignment to the
    same frozen centroids — incremental maintenance loses nothing and
    duplicates nothing."""
    import tempfile

    import pyspark.sql.functions as F

    from oxi_diel_db_spark.operators.similarity import ivf_assign, ivf_index
    from oxi_diel_db_spark.streaming import ops
    from oxi_diel_db_spark.tables import load

    sf = "/root/testdata/sf0.01"
    emb = load(spark, "embeddings", sf).select("vec_id", "embedding")
    hi = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    half = hi // 2
    boot = emb.filter(F.col("vec_id") < half)
    assigned_boot, cents = ivf_index(boot, n_centroids=8, seed=42)

    work = tempfile.mkdtemp(prefix="st21_test_")
    index_dir = f"{work}/index"
    assigned_boot.select("vec_id", "cell", "cv", "cn").write.parquet(index_dir)
    rest = emb.filter(F.col("vec_id") >= half)
    mid = half + (hi - half) // 2
    chunks = [
        rest.filter(F.col("vec_id") < mid),
        rest.filter(F.col("vec_id") >= mid),
    ]
    ops.drain(
        ops.replay_stream(spark, chunks, work)
        .writeStream.foreachBatch(
            lambda bdf, _b: ivf_assign(bdf, cents)
            .select("vec_id", "cell", "cv", "cn")
            .write.mode("append")
            .parquet(index_dir)
        )
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )

    got = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(index_dir).select("vec_id", "cell").collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, cents).select("vec_id", "cell").collect()
    }
    assert len(got) == emb.count()  # exactly once, nothing dropped
    assert got == want


def test_st21_repeat_invocation_identical(spark):
    """Registered st21 must survive back-to-back driver calls (fresh
    uuid'd work dirs per invocation) and return identical rows."""
    from oxi_diel_db_spark.queries import load_registry

    b = load_registry()["st21_streaming_ivf_upsert"].build
    sf = "/root/testdata/sf0.001"
    r1 = {tuple(r) for r in b(spark, sf).collect()}
    r2 = {tuple(r) for r in b(spark, sf).collect()}
    assert r1 == r2 and len(r1) > 0


def test_st22_cumulative_ingest_equals_batch_lsh(spark):
    """st22's cumulative-ingest contract, cross-checked against the
    BATCH operator (algorithm-independent of the DuckDB oracle): the
    union of per-micro-batch pair emissions equals d3's full-corpus
    MinHash-LSH pair set restricted to pairs whose LATER doc arrived
    by stream (doc_b >= half) — nothing missed across batch
    boundaries, nothing paired twice, old docs never re-paired."""
    import pyspark.sql.functions as F

    from oxi_diel_db_spark.operators.dedup import minhash_lsh_pairs
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.tables import load

    sf = "/root/testdata/sf0.01"
    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in load_registry()["st22_streaming_neardup_ingest"]
        .build(spark, sf)
        .collect()
    }
    d = load(spark, "documents", sf)
    half = (d.agg(F.max("doc_id")).collect()[0][0] + 1) // 2
    want = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(d, threshold=0.25)
        .filter(F.col("doc_b") >= half)
        .collect()
    }
    assert got == want and len(got) > 0


def test_st22_repeat_invocation_identical(spark):
    from oxi_diel_db_spark.queries import load_registry

    b = load_registry()["st22_streaming_neardup_ingest"].build
    sf = "/root/testdata/sf0.001"
    r1 = {tuple(r) for r in b(spark, sf).collect()}
    r2 = {tuple(r) for r in b(spark, sf).collect()}
    assert r1 == r2


def test_st23_cumulative_ingest_equals_batch_cdc(spark):
    """st23's cumulative-ingest contract, cross-checked against the
    BATCH operator (algorithm-independent of the DuckDB oracle): the
    union of per-micro-batch accounting rows equals the full-corpus
    CDC chunk table scored under the same order rule (dup iff the
    content key exists at a lower doc_id or elsewhere in the same
    doc), restricted to streamed docs — nothing missed across batch
    boundaries, nothing double-counted, old docs never re-scored."""
    import pyspark.sql.functions as F

    from oxi_diel_db_spark.operators.multimodal import (
        cdc_chunks,
        cdc_fixture_table,
    )
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.tables import load

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in load_registry()["st23_streaming_cdc_ingest"]
        .build(spark, sf)
        .collect()
    }
    d = load(spark, "documents", sf).select("doc_id")
    half = (d.agg(F.max("doc_id")).collect()[0][0] + 1) // 2
    ch = cdc_chunks(cdc_fixture_table(d))
    p = ch.select(
        F.col("doc_id").alias("p_doc"),
        F.col("chunk_idx").alias("p_idx"),
        "chash",
    )
    want = {
        tuple(r)
        for r in ch.filter(F.col("doc_id") >= half)
        .join(p, "chash", "left")
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
        .groupBy("doc_id", "chunk_idx", "c_len")
        .agg(F.max(F.coalesce("m", F.lit(0))).alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("c_len").alias("n_bytes"),
            F.sum("is_dup").cast("bigint").alias("n_dup_chunks"),
            F.sum(F.col("is_dup") * F.col("c_len")).alias("dup_bytes"),
            (
                F.round(
                    F.sum(F.col("is_dup") * F.col("c_len"))
                    / F.sum("c_len").cast("double")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_ratio"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # the planted shifted-duplicate pairs make real dup mass flow
    # through the stream: at least one streamed doc is >90% dup bytes
    assert any(r[5] > 0.9 for r in got)


def test_cdc_chunk_state_rule_equivalence(spark):
    """cdc_chunk_state's compact rule == the raw order rule on a
    constructed chunk table covering every branch: earlier-doc dup,
    same-doc two-instance dup (BOTH copies flagged), first-ever chunk
    (clean), and a key whose min doc holds ONE instance but a later
    doc repeats it (later dup, min doc clean). Also pins merge
    associativity across a batch split."""
    import pyspark.sql.functions as F

    from oxi_diel_db_spark.operators.multimodal import (
        cdc_chunk_state,
        cdc_state_merge,
    )

    rows = [
        # (doc_id, chunk_idx, c_len, chash)
        (1, 0, 10, "A"),  # first ever -> clean
        (1, 1, 10, "B"),  # same-doc pair -> dup
        (1, 2, 10, "B"),  # same-doc pair -> dup
        (2, 0, 10, "A"),  # earlier doc holds A -> dup
        (2, 1, 10, "C"),  # first ever -> clean
        (3, 0, 10, "C"),  # doc 2 holds C once -> dup (doc 2 stays clean)
        (3, 1, 10, "D"),  # first ever -> clean
    ]
    ch = spark.createDataFrame(
        rows, "doc_id bigint, chunk_idx bigint, c_len bigint, chash string"
    )
    state = cdc_chunk_state(ch)
    got = {
        (r["doc_id"], r["chunk_idx"]): r["is_dup"]
        for r in ch.join(state, "chash")
        .select(
            "doc_id",
            "chunk_idx",
            (
                (F.col("min_doc") < F.col("doc_id"))
                | ((F.col("min_doc") == F.col("doc_id")) & (F.col("cnt_min") > 1))
            )
            .cast("int")
            .alias("is_dup"),
        )
        .collect()
    }
    want = {
        (1, 0): 0, (1, 1): 1, (1, 2): 1,
        (2, 0): 1, (2, 1): 0,
        (3, 0): 1, (3, 1): 0,
    }
    assert got == want
    # merge associativity: state(all) == merge(state(docs 1-2), state(doc 3))
    s12 = cdc_chunk_state(ch.filter(F.col("doc_id") <= 2))
    s3 = cdc_chunk_state(ch.filter(F.col("doc_id") == 3))
    merged = {tuple(r) for r in cdc_state_merge(s12, s3).collect()}
    assert merged == {tuple(r) for r in state.collect()}
