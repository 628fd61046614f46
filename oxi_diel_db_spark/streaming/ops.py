"""Streaming operator recipes T1-T8 (SURVEY.md §2.10) on the events
table, written so the SAME transformation builder runs on a batch or a
streaming DataFrame — batch/stream equivalence is the correctness
contract (tests/test_streaming.py runs both and diffs).

Source for tests/driver: file source replaying the events parquet.
In production the source line changes to Kafka; everything below the
source is identical (that is the point of Structured Streaming).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from oxi_diel_db_spark.queries._util import cents


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source replay of the events table (T8 source side).

    The trailing ``*`` makes the path a glob so the file source treats
    the parent dir as basePath (it rejects a bare file path); ts arrives
    as TIMESTAMP_NTZ (the shipped files store not-UTC-adjusted micros) or,
    from a TIMESTAMP(NANOS) file, as long nanos (session nanosAsLong), and
    is normalized to a real timestamp column before any event-time
    operator sees it.

    ``max_files_per_trigger``: 1 (default) replays file-per-micro-batch
    — the multi-trigger cadence the windowed/stateful gates exercise.
    ``None`` drains every available file in ONE batch (availableNow-
    style) — correct whenever the query's semantics depend only on the
    FINAL watermark (st13: NULL-tier emission happens in the closing
    no-data batch either way), and it cuts the per-trigger fixed cost
    from O(files) to O(1)."""
    from oxi_diel_db_spark.tables import normalize_event_ts, read_parquet

    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(f"{sf_dir}/events.parquet*")
    return normalize_event_ts(raw)


# ---- transformation builders (batch/stream agnostic) ----------------------


EVENTS_JSON_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire format → events rows: the value payload is a JSON
    event document; malformed payloads land with NULL fields rather
    than killing the stream (from_json is PERMISSIVE), and the Kafka
    ingest timestamp is kept as kafka_ts for lag monitoring.

    Split out from read_events_kafka so the parse logic is testable
    without a broker (tests feed a manufactured key/value frame)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_JSON_SCHEMA).alias("e"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("e.*", "kafka_ts")


def read_events_kafka(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production source line for the events stream (T8): swap this for
    read_events_stream and every operator below runs unchanged — that
    is Structured Streaming's source abstraction doing its job.

    Requires org.apache.spark:spark-sql-kafka-0-10 on the classpath
    (--packages); not bundled with pyspark, so this path is exercised
    in tests only through parse_kafka_events. maxOffsetsPerTrigger is
    the batch-size governor at scale: without it the first trigger
    after downtime reads the whole backlog into one micro-batch."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_events(reader.load())


def read_rate_events(
    spark: SparkSession, rows_per_second: int = 1000, partitions: int = 4
) -> DataFrame:
    """Rate-source synthetic events — the built-in load generator, used
    to smoke-test the streaming operator chain end-to-end with no
    external system. Deterministic per (value) row: event fields derive
    from the monotonic counter, so a given prefix of the stream always
    contains the same events."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(partitions))
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 1000 / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """T1: tumbling event-time window aggregation."""
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """T2: sliding (hopping) window — each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """T3: session windows per user (gap-based)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5: stateful dedup by event_id under a watermark (streaming only)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def deduped_stream_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """T5 variant (Spark 3.5+): dropDuplicatesWithinWatermark — dedups
    rows whose event times fall within the watermark delay of each
    other WITHOUT keying state on exact event time, so state for a key
    is dropped once the watermark passes it. The production choice when
    duplicates arrive close together (retries, at-least-once sources):
    bounded state regardless of stream length, which plain
    dropDuplicates(["event_id"]) cannot guarantee (its state never
    expires unless the ts column is part of the key)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_join(events: DataFrame, dim: DataFrame, on) -> DataFrame:
    """T7: stream ⋈ static broadcast dim."""
    return events.join(F.broadcast(dim), on, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "4 hours",
    watermark: str = "90 days",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner interval join (T7's harder sibling — the
    join both sides of which are unbounded): left events match right
    events with the same ``key`` whose time falls in
    ``[left.ts, left.ts + within]``.

    The shape Structured Streaming requires to bound state:

    * a watermark on BOTH inputs — without one, neither side's buffered
      rows can ever be evicted (state grows with the stream);
    * a time-RANGE predicate tying the two event times — this is what
      lets the engine compute, from the watermark, how long a buffered
      row can still find partners and drop it afterwards.

    Inner joins emit each match exactly once as it is found, so the
    complete replayed output equals the batch join — which is the
    oracle (st8). At 100 TB both sides hash-partition on the key; the
    interval predicate evaluates post-shuffle within each partition,
    and state size ≈ (rows/sec · watermark) per side, independent of
    total stream length.

    The replay-test watermark default is generous — 90 days, comfortably
    wider than the events data span (one month), so a multi-file layout
    replayed out of time order can never evict rows mid-replay and the
    batch-equivalence oracle holds. Production tightens it to the real
    lateness bound, e.g. minutes, because state scales with it.

    ``how='left_outer'`` adds the NULL-padded tier: an unmatched left
    row is emitted with NULL right columns only when the watermark
    passes the end of its match interval (left_ts + within) — eviction
    IS the emission trigger, so the outer tier requires a FINITE
    watermark (st13 uses 1 hour) and the replay's final no-data
    micro-batch to advance it. Left rows whose interval hasn't expired
    by end-of-stream stay buffered and unreported — st13's oracle
    encodes exactly that boundary.
    """
    # watermarks demand TIMESTAMP_LTZ; the parquet replay may surface
    # NTZ. Cast is value-preserving under the pinned UTC session tz,
    # and the output casts back to NTZ so hashes match the naive oracle.
    l = left.select(
        F.col("event_id").alias("left_id"),
        F.col(key),
        F.col("ts").cast("timestamp").alias("left_ts"),
    ).withWatermark("left_ts", watermark)
    r = right.select(
        F.col("event_id").alias("right_id"),
        F.col(key).alias("__rk"),
        F.col("ts").cast("timestamp").alias("right_ts"),
    ).withWatermark("right_ts", watermark)
    cond = (
        (F.col(key) == F.col("__rk"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how).select(
        "left_id",
        "right_id",
        # COALESCE so a full-outer right tier keeps its key (equi-join
        # keys are equal wherever both exist, so inner/left tiers are
        # unchanged)
        F.coalesce(F.col(key), F.col("__rk")).alias(key),
        F.col("left_ts").cast("timestamp_ntz").alias("left_ts"),
        F.col("right_ts").cast("timestamp_ntz").alias("right_ts"),
    )


# ---- execution helpers -----------------------------------------------------


def drain(q: StreamingQuery) -> None:
    """Process every available input, then stop the query and wait for
    it to terminate — also when processing raises. The one way a
    replay-driven query runs to completion (tests and the driver's
    collect need it synchronous and deterministic)."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def run_stream_to_memory(
    stream_df: DataFrame, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DF into a uuid-named memory sink and return
    the materialized result."""
    name = f"st_{uuid.uuid4().hex[:12]}"
    drain(
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    return spark.table(name)


def split_arrivals(df: DataFrame, key: str) -> tuple[DataFrame, list[DataFrame]]:
    """The bootstrap-then-arrivals split of the incremental-ingest
    queries: rows whose ``key`` is below half of ``max(key) + 1`` form
    the bootstrap; the rest arrive as four key-range bands (one
    micro-batch each under replay_stream). One scalar collect; every
    oracle encodes the same ``half``."""
    hi = df.agg(F.max(key)).collect()[0][0] + 1
    half = hi // 2
    cuts = [half + (hi - half) * i // 4 for i in range(5)]
    k = F.col(key)
    return df.filter(k < half), [
        df.filter((k >= cuts[i]) & (k < cuts[i + 1])) for i in range(4)
    ]


def watermarked_tumbling(events: DataFrame, width: str = "1 hour", late: str = "15 minutes") -> DataFrame:
    """T4: watermarked windowed agg — rows later than `late` beyond the
    max seen event time are dropped; append-mode emits only finalized
    windows."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def write_late_replay(events: DataFrame, anchor_hour) -> list[DataFrame]:
    """The five bands of a replay of ``events`` that injects LATE rows
    (T4's test harness; replay_stream plays one band per trigger):

    * b0: ts <  T−6h                       (old head; low watermark)
    * b1: T−6h ≤ ts < T−3h                 (advances watermark to ≈T−4h)
    * b2: EMPTY. Spark ≥3.4 splits the watermark: late-event filtering
      uses the PREVIOUS micro-batch's watermark, eviction the current
      one (SPARK-24634 line of work) — so the watermark b1 advanced
      only governs late-row drops one batch later. The empty band
      interposes that batch.
    * b3: copies of [T−4h, T−3h) — late but WITHIN the 1h allowed
      lateness (window end T−3h > watermark ≈T−4h → kept), plus copies
      of [T−7h, T−6h) — beyond it (window end T−6h ≪ watermark →
      dropped). Neither advances the watermark.
    * b4: ts ≥ T−3h                        (tail; finalizes windows up
      to max(ts) − 1h)

    ``anchor_hour`` is T = date_trunc('hour', max(ts)).
    """
    import datetime

    def off(h: int):
        return anchor_hour - datetime.timedelta(hours=h)

    ts = F.col("ts")
    return [
        events.filter(ts < off(6)),
        events.filter((ts >= off(6)) & (ts < off(3))),
        events.filter(F.lit(False)),  # watermark-activation batch
        events.filter((ts >= off(4)) & (ts < off(3))).unionByName(
            events.filter((ts >= off(7)) & (ts < off(6)))
        ),
        events.filter(ts >= off(3)),
    ]


def replay_stream(
    spark: SparkSession, bands: list[DataFrame], work_dir: str
) -> DataFrame:
    """Write one parquet file per band under ``work_dir/replay``, with
    mtimes pinning the micro-batch order (the file source replays
    oldest-mtime first), and return the file stream over it, one file
    per micro-batch. The stream takes the bands' own schema, so no
    footer-inference job reads back what was just written (the file
    source forces every field nullable, as a parquet read-back does)."""
    replay_dir = os.path.join(work_dir, "replay")
    os.makedirs(replay_dir, exist_ok=True)
    for i, band in enumerate(bands):
        tmp = os.path.join(work_dir, f"band{i}")
        band.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(replay_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.readStream.schema(bands[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


def read_back(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """A read of the parquet directory ``path`` that the caller wrote
    with ``schema``: it runs no footer-inference job, and it has the
    schema and rows of an inferring read (the reader forces every field
    nullable and moves partition columns last, as an inferring read
    does)."""
    return spark.read.schema(schema).parquet(path)


def write_read_back(df: DataFrame, path: str, mode: str = "errorifexists") -> DataFrame:
    """Write ``df`` as parquet under ``path`` and return ``read_back`` of
    that directory with ``df``'s own schema."""
    df.write.mode(mode).parquet(path)
    return read_back(df.sparkSession, path, df.schema)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """T6: arbitrary stateful processing via applyInPandasWithState —
    a per-user running event counter (the minimal custom-state shape;
    sessionization/counters swap the update function only).

    State = one long per user, updated per micro-batch; emits the
    running total each trigger (update mode downstream).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long",
            stateStructType="n_events long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---- incremental rollup maintenance (delta + compaction) -------------------


def rollup_delta_sink(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    width: str = "1 hour",
):
    """Maintain a continuous aggregate incrementally: each micro-batch
    writes its OWN partial aggregate (batch-local groupBy — no
    streaming state, no watermark) as an append-only delta file. The
    reader re-aggregates partials; compact_rollup folds them back to
    one row per group. This is the delta+compaction design every
    100 TB metrics store uses: late data just lands in a later delta,
    correctness never depends on watermark tuning, and the sink is a
    plain parquet append (idempotent per epochId via the checkpoint).

    Returns the StreamingQuery; the caller drives it (``drain`` in
    tests and queries, run forever in production).
    """

    def _write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy(
                F.window("ts", width).alias("win"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents(F.col("value"))).alias("value_cents"),
            )
            .select(
                F.col("win.start").alias("win_start"),
                "event_type",
                "n",
                "value_cents",
            )
            .write.mode("append")
            .parquet(f"{out_dir}/deltas")
        )

    return (
        events_stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# Rollup dataset layout (manifest-pointer protocol, ADVICE r1 medium —
# a directory-overwrite compaction deletes deltas appended mid-compact
# and a crash mid-overwrite loses the dataset):
#
#   out_dir/deltas/part-*.parquet     append-only delta partials (sink)
#   out_dir/compacted/<uuid>/         compaction outputs, one dir per run
#   out_dir/MANIFEST-<n>.json         {"compacted_dir", "consumed": [...]}
#
# The manifest is committed by a same-directory os.rename (atomic on
# POSIX). Readers see: latest manifest's compacted base + every delta
# file NOT in its consumed list — so deltas appended at ANY point during
# compaction stay visible, and a crash anywhere leaves the previous
# manifest (and all its files) intact. Physical deletion of consumed
# deltas/old bases happens only AFTER the manifest commit; a crash
# before deletion just leaves garbage that the next compaction removes.


def _rollup_state(out_dir: str, as_of: int | None = None):
    """(manifest_n, compacted_dir_abs_or_None, consumed_set, live_delta_paths).

    ``as_of``: read the dataset AS OF compaction N (time travel over
    the manifest-pointer protocol): base_N alone — every delta
    compaction N had folded in, nothing later. Exact by construction:
    base_N = fold(base_{N-1}, deltas consumed by N), so consumed-delta
    GC never loses history; requires ``compact_rollup(...,
    retain_history=True)`` so old bases/manifests survive later runs
    (the vacuum-vs-time-travel trade every table format exposes)."""
    import json

    manifests = sorted(
        (f for f in os.listdir(out_dir) if f.startswith("MANIFEST-") and f.endswith(".json"))
        if os.path.isdir(out_dir)
        else [],
        key=lambda f: int(f[len("MANIFEST-"):-len(".json")]),
    )
    if as_of is not None:
        manifests = [
            f for f in manifests
            if int(f[len("MANIFEST-"):-len(".json")]) <= as_of
        ]
        if not manifests:
            raise ValueError(f"no manifest <= {as_of} in {out_dir}")
    n, compacted, consumed = 0, None, set()
    if manifests:
        latest = manifests[-1]
        n = int(latest[len("MANIFEST-"):-len(".json")])
        with open(os.path.join(out_dir, latest)) as fh:
            m = json.load(fh)
        compacted = os.path.join(out_dir, m["compacted_dir"])
        consumed = set(m["consumed"])
    delta_dir = os.path.join(out_dir, "deltas")
    live = []
    if as_of is not None:
        # snapshot view: base_N only — live deltas are either post-N
        # appends or consumed-by-N (already folded into base_N)
        return n, compacted, consumed, live
    if os.path.isdir(delta_dir):
        live = [
            os.path.join(delta_dir, f)
            for f in sorted(os.listdir(delta_dir))
            if f.endswith(".parquet") and not f.startswith(("_", ".")) and f not in consumed
        ]
    return n, compacted, consumed, live


def read_rollup(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Merge-on-read over the delta partials + compacted base: the same
    schema whether one delta or ten thousand exist. Cheap because
    partials are already tiny (one row per (window, type) per batch).
    ``as_of=N`` time-travels to the state as of compaction N (see
    _rollup_state; needs retain_history=True compactions)."""
    _, compacted, _, live = _rollup_state(out_dir, as_of=as_of)
    parts = ([spark.read.parquet(compacted)] if compacted else []) + (
        [spark.read.parquet(*live)] if live else []
    )
    if not parts:
        # legacy/empty layout: read the directory as-is
        parts = [spark.read.parquet(out_dir)]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.groupBy("win_start", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("value_cents").alias("value_cents"),
    )


def compact_rollup(
    spark: SparkSession, out_dir: str, retain_history: bool = False
) -> None:
    """Fold the current base + all visible deltas into one partial per
    group, then atomically advance the manifest pointer. Deltas appended
    while the compaction runs are NOT consumed and stay visible; a crash
    at any step leaves the previous manifest's view intact (orphaned
    output dirs are swept by the next successful run)."""
    import json

    n, compacted, consumed, live = _rollup_state(out_dir)
    if not live and compacted:
        return  # nothing new since the last compaction
    inputs = ([compacted] if compacted else []) + live
    if not inputs:
        return
    new_rel = os.path.join("compacted", uuid.uuid4().hex)
    new_abs = os.path.join(out_dir, new_rel)
    (
        spark.read.parquet(*inputs)
        .groupBy("win_start", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("value_cents").alias("value_cents"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new_abs)
    )
    # consumed accumulates prior manifests' lists: if a post-commit delete
    # failed, the stale file must stay excluded forever, not double-count.
    manifest = {
        "compacted_dir": new_rel,
        "consumed": sorted(consumed | {os.path.basename(p) for p in live}),
    }
    tmp = os.path.join(out_dir, f".MANIFEST-{n + 1}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(out_dir, f"MANIFEST-{n + 1}.json"))  # commit point
    # post-commit garbage collection (safe: no manifest references these)
    for p in live:
        try:
            os.remove(p)
        except OSError:
            pass
    if not retain_history:
        # vacuum: with retain_history=True old bases + manifests stay
        # readable via read_rollup(as_of=N); consumed deltas are safe
        # to drop either way (base_N supersedes them). A plain run
        # removes EVERY older manifest (including ones a prior
        # retain_history run kept) and every base no remaining
        # manifest references.
        for f in os.listdir(out_dir):
            if (
                f.startswith("MANIFEST-")
                and f.endswith(".json")
                and int(f[len("MANIFEST-"):-len(".json")]) < n + 1
            ):
                try:
                    os.remove(os.path.join(out_dir, f))
                except OSError:
                    pass
        comp_root = os.path.join(out_dir, "compacted")
        for d in os.listdir(comp_root):
            if os.path.join(comp_root, d) != new_abs:
                shutil.rmtree(os.path.join(comp_root, d), ignore_errors=True)


def have_transform_with_state() -> bool:
    """Spark 4's transformWithStateInPandas spawns a long-lived Python
    driver worker that speaks protobuf to the JVM
    (StreamingPythonRunner); without the google.protobuf package the
    worker crashes at init. Gate, don't stub: the operator below is
    real and runs wherever protobuf exists (any standard cluster
    image); the test suite skips cleanly here."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(events: DataFrame) -> DataFrame:
    """T6 on the NEW Spark 4 stateful API (transformWithStateInPandas):
    per-user running (count, sum) via an explicit ValueState handle —
    the typed-state successor of applyInPandasWithState (st6's
    operator). Emits the running totals per key per micro-batch
    (update mode); the final row per key equals the batch aggregate.

    Requires the RocksDB state store provider (set by the caller; the
    HDFS-backed default does not support transformWithState) and the
    protobuf Python package (see have_transform_with_state).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self.state.exists():
                prev = self.state.get()
                n, total = prev[0], prev[1]
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self):
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )


#: The rows ``dq_delta_sink`` writes, one per constraint and batch.
DQ_LEDGER_SCHEMA = "batch_id int, constraint string, n_checked bigint, n_violations bigint"


def dq_delta_sink(events: DataFrame, out_dir: str, ckpt_dir: str):
    """Continuous data-quality monitoring (the streaming face of the
    dq1 audit): every micro-batch appends ONE summary row per
    constraint — (batch_id, constraint, n_checked, n_violations) — so
    the quality ledger accrues alongside ingest and a bad batch is
    attributable the moment it lands. Stateless foreachBatch delta
    (same maintenance shape as rollup_delta_sink): totals come from
    re-aggregating deltas, equal by construction to the one-shot batch
    audit.

    Idempotence: foreachBatch is at-least-once — a retried micro-batch
    re-runs ``_audit`` with the SAME batch_id. Output is therefore
    partitioned by batch_id and written with dynamic partition
    overwrite (a write option; the session conf stays as it is), so a
    retry REPLACES its own partition instead of appending duplicate
    constraint rows (which would over-count any re-aggregation of the
    ledger)."""

    def _audit(batch_df: DataFrame, batch_id: int) -> None:
        checks = [
            (
                "enum_event_type",
                ~F.col("event_type").isin("view", "click", "purchase", "signup"),
            ),
            ("notnull_value", F.col("value").isNull()),
            ("value_range_0_1000", (F.col("value") < 0) | (F.col("value") > 1000)),
        ]
        rows = None
        for cname, cond in checks:
            r = batch_df.agg(
                F.lit(batch_id).alias("batch_id"),
                F.lit(cname).alias("constraint"),
                F.count(F.lit(1)).alias("n_checked"),
                F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).alias("n_violations"),
            )
            rows = r if rows is None else rows.unionByName(r)
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return (
        events.writeStream.foreachBatch(_audit)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
