"""Structured Streaming operators over the events table — SURVEY.md §2.8.

Design rules:
- Every streaming aggregation has a batch twin and the test contract is
  stream(availableNow over closed input) == batch on the same input
  (SURVEY.md §2.8 T7). That is the only honest oracle for streaming.
- Event time is the microsecond-truncated TIMESTAMP_NTZ derived exactly like
  the batch path (session.read_events), so stream and batch bucket
  identically.
- Driver-contract entries run the stream to completion with the AvailableNow
  trigger into a memory sink and return the sink table — the driver records
  a rows-only check (no SQL oracle can express a watermark).

At scale: file source → kafka swap is a one-line change; state stores want
the RocksDB provider (`spark.sql.streaming.stateStore.providerClass`) once
per-key state outgrows the executor heap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from data_etl_sh_lianjia_spark.functions.deterministic import dsum, oracle_dsum
from data_etl_sh_lianjia_spark.plans.registry import register
from data_etl_sh_lianjia_spark.session import path_stat_fingerprint, table_path

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_files(sf_dir: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(sf_dir, "events*.parquet")))


def _assert_single_events_file(sf_dir: str, query: str) -> None:
    """Guard for queries whose EXACT value oracle assumes the whole events
    table arrives in ONE micro-batch (watermark still at -inf, so nothing is
    dropped as late). With multiple event files the reader feeds one file
    per trigger and the watermark advances between files — late rows would
    silently be dropped and the oracle would no longer describe the output."""
    files = _events_files(sf_dir)
    if len(files) != 1 or os.path.isdir(files[0]):
        # A directory-form events table counts as one glob entry but its
        # part files stream as separate micro-batches (and the stream's
        # pathGlobFilter 'events*.parquet' won't even match the inner
        # part-*.parquet names) — reject it like any multi-file landing.
        raise AssertionError(
            f"{query}: exact oracle requires a single events file in {sf_dir}; "
            f"found {files}. Use the batch twin or a "
            "sentinel-closed input for multi-file directories."
        )


def _closed_events_dir(sf_dir: str) -> str:
    """A /tmp copy of ``sf_dir``'s events table plus two staggered far-future
    sentinel batches that drive the watermark past every real event.

    Purpose: append-mode stateful streams over a finite input keep their
    tail state forever (the watermark never passes it), so their output is a
    timing-dependent prefix. Closing the input with sentinels makes the
    run drain ALL state — the output becomes the exact batch equivalent,
    which a plain SQL oracle can describe. Each sentinel file carries one
    'click' and one 'purchase' row for user −1 so the rows pass the
    type-filters ahead of every withWatermark operator (filtered-out rows
    never update a watermark); callers filter ``user_id >= 0``.

    Cached per (path, size, mtime) fingerprint; rebuilt when the source
    changes. Staging dir is per-PID and published with an atomic rename, so
    concurrent builders race safely.
    """
    import hashlib
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = table_path(sf_dir, "events")
    # Directory-form events tables (multi-file landings, large replicas):
    # fingerprint by the parts (shared path_stat_fingerprint helper), and
    # concatenate them into ONE file below so the whole table still arrives
    # as a single first micro-batch — copying the directory as-is would
    # stream each part separately (watermark advancing between parts drops
    # late rows the oracle keeps).
    size, mtime = path_stat_fingerprint(src)
    key = hashlib.md5(
        f"{os.path.normpath(src)}:{size}:{mtime}".encode()
    ).hexdigest()[:12]
    out = os.path.join("/tmp/spark-graft-closed", key)
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.isdir(src):
        import glob

        part_files = sorted(glob.glob(os.path.join(src, "*.parquet")))
        merged = pa.concat_tables(pq.read_table(p) for p in part_files)
        pq.write_table(merged, os.path.join(tmp, "events.parquet"))
        ts = merged.column("ts")
    else:
        shutil.copy(src, os.path.join(tmp, "events.parquet"))
        ts = pq.read_table(src, columns=["ts"]).column("ts")
    if pa.types.is_timestamp(ts.type):
        max_ns = pc.max(ts.cast(pa.timestamp("ns"))).cast(pa.int64()).as_py()
    else:  # already stored as int64 epoch-nanos
        max_ns = int(pc.max(ts).as_py())
    base = time.time()
    for i, hours in enumerate((10, 30), start=1):
        sent_ns = max_ns + hours * 3600 * 10**9
        sent = pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                # raw INT64 epoch-nanos: the stream's LongType schema reads
                # it identically to TIMESTAMP(NANOS)-as-long
                "ts": pa.array([sent_ns, sent_ns], pa.int64()),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "purchase"]),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )
        path = os.path.join(tmp, f"events_sentinel{i}.parquet")
        pq.write_table(sent, path)
        os.utime(path, (base + 100 * i, base + 100 * i))
    os.utime(os.path.join(tmp, "events.parquet"), (base, base))
    with open(os.path.join(tmp, "_READY"), "w") as fh:
        fh.write("ok")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.replace(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of session.read_events: same ts derivation, file source."""
    from data_etl_sh_lianjia_spark.session import tune_for_sf

    # Streaming state-store ops scale with shuffle partitions (one state
    # store instance per partition per stateful operator): the default 200
    # on a driver-built session makes each micro-batch pay 200 store
    # open/commit cycles to manage a few thousand rows.
    tune_for_sf(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file source requires a directory: stream the sf dir with a glob
    # filter selecting event files (multi-file drops stream in naturally,
    # oldest mtime first; maxFilesPerTrigger=1 makes each file one
    # micro-batch so the watermark advances between files).
    raw = (
        spark.readStream.schema(_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    return (
        raw.withColumnRenamed("ts", "ts_raw")
        # Unit normalization: the batch reader (nanosAsLong) surfaces
        # TIMESTAMP(NANOS) as nanoseconds, but the file *stream* source with
        # an explicit LongType schema converts the same column to
        # MICROseconds. Joins/windows built on the raw value were therefore
        # 1000x compressed vs the batch twins (round-2 finding: the
        # stream-stream interval join emitted 11690 rows vs the true 23).
        # Decide by magnitude: epoch-nanos for any plausible date is >= 1e17
        # (~1973), epoch-micros is ~1e15 — normalize everything to ts_ns.
        .withColumn(
            "ts_ns",
            F.expr(
                "CASE WHEN abs(ts_raw) >= 100000000000000000 THEN ts_raw"
                " ELSE ts_raw * 1000 END"
            ),
        )
        .drop("ts_raw")
        .withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts_ns div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
        # Watermarks/session windows require TIMESTAMP (with local tz);
        # parity is safe because stream and batch twins share one session.
        .withColumn("ts_ltz", F.expr("timestamp_micros(ts_ns div 1000)"))
    )


import threading
from contextlib import contextmanager

# spark.sql.shuffle.partitions is SESSION-scoped: two bounded runs started
# concurrently on one session (or a batch query planned inside the window)
# could capture the capped value or clobber each other's restore. All
# engine callers are single-threaded per session; the lock makes the
# set/restore window safe if that ever changes (concurrent bounded runs
# then serialize — a deliberate trade: correctness of the session conf
# over overlap of bounded drains, which sub-second availableNow runs
# don't need).
_BOUNDED_SHUFFLE_LOCK = threading.RLock()  # RLock: the tws Arrow-batch window nests the bounded-shuffle window


@contextmanager
def _bounded_stream_shuffle(spark: SparkSession):
    """Size shuffle partitions for a BOUNDED streaming run (availableNow
    over a closed input).

    Every stateful operator opens, updates and commits one state store per
    shuffle partition per micro-batch (a stream-stream join keeps FOUR
    sub-stores per partition), so the partition count multiplies a fixed
    per-batch cost that dwarfs the data itself at micro-batch volumes —
    measured at sf0.1 on a warm session, the left-outer stream-stream join
    run drops 16.8 s → 4.5 s going 32 → 8 partitions with identical output
    (guide §2: partitions sized to the data, not the core count). r12
    re-measured the next step: 8 → 4 partitions takes the same join
    8.5 → 4.7 s and the inner join 6.6 → 4.5 s (quiet-phase interleaved
    A/B; 2 partitions is within noise of 4), with every other bounded
    stream flat-to-better — so the floor is 4. The formula stays
    scale-adaptive, not a local[32] constant: cores/8 with a floor of 4
    keeps a few stores per machine at any SPARK_GRAFT_CPUS, and a
    continuous production stream whose state outgrows that sets
    SPARK_GRAFT_STREAM_SHUFFLE to size stores to state volume instead
    (state-store count is a first-batch property of the checkpoint, so
    the knob binds per query, not per session). The session value is
    restored afterwards so batch queries keep the tune_for_sf regime."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    parts = int(
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", max(4, cpus // 8))
    )
    with _BOUNDED_SHUFFLE_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_completion(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    The checkpoint dir and sink name are unique per call: a reused checkpoint
    would make a second invocation resume from committed offsets and return
    an empty table (results themselves are deterministic — the checkpoint is
    restart state, not query state).
    """
    import shutil
    import uuid

    spark = stream_df.sparkSession
    unique = f"{name}_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join("/tmp/spark-graft-ckpt", unique)
    with _bounded_stream_shuffle(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(unique)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    # The memory sink holds the results on the driver; the checkpoint is
    # pure restart state for a query that just completed — remove it rather
    # than accumulating one dir per invocation across bench/test runs.
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(unique)


# --- T1: tumbling window aggregation ---------------------------------------


_WIN_START_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', win.start)"
)


def _tumbling_counts(ev: DataFrame) -> DataFrame:
    """Shared tumbling shape: NTZ 10-minute windows keyed by epoch micros
    (tz-independent, hashable by the driver canon) + scaled-long sum."""
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.expr(_WIN_START_US).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling_counts(read_events_stream(spark, sf_dir))


def tumbling_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_sh_lianjia_spark.session import load_tables

    return _tumbling_counts(
        load_tables(spark, sf_dir, names=("events",))["events"]
    )


@register(
    "stream_tumbling_counts",
    # Complete-mode + AvailableNow over a closed input emits every window
    # exactly once -> fully deterministic, so the stream gets a real value
    # oracle (T7 made literal), not just the batch-parity test.
    oracle=f"""
SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS win_start_us,
       event_type,
       COUNT(*) AS n,
       {oracle_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
""",
    survey_ref="T1,T7,S12",
    doc="streaming tumbling-window counts (complete mode, AvailableNow)",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(
        tumbling_counts_stream(spark, sf_dir), "stream_tumbling_counts", "complete"
    )


# --- T1b: sliding window ----------------------------------------------------


def _sliding_counts(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.expr(_WIN_START_US).alias("win_start_us"), "n")
    )


def sliding_avg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding_counts(read_events_stream(spark, sf_dir))


def sliding_avg_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_sh_lianjia_spark.session import load_tables

    return _sliding_counts(load_tables(spark, sf_dir, names=("events",))["events"])


@register(
    "stream_sliding_counts",
    # Every event falls in exactly two 10m/5m windows: the one starting at
    # its 5-minute bucket and the one 5 minutes earlier — the oracle
    # materializes that membership with a two-branch UNION ALL.
    oracle="""
WITH b AS (
  SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS b5 FROM events
)
SELECT s AS win_start_us, COUNT(*) AS n
FROM (
  SELECT b5 AS s FROM b
  UNION ALL
  SELECT b5 - 300000000 AS s FROM b
)
GROUP BY s
""",
    survey_ref="T1,T7,S12",
    doc="streaming sliding-window (10m/5m) counts",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(
        sliding_avg_stream(spark, sf_dir), "stream_sliding_counts", "complete"
    )


# --- T2: session window -----------------------------------------------------


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).withWatermark("ts_ltz", "1 hour")
    return (
        ev.groupBy(F.session_window("ts_ltz", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_sh_lianjia_spark.session import load_tables

    ev = load_tables(spark, sf_dir, names=("events",))["events"].withColumn(
        "ts_ltz", F.expr("timestamp_micros(ts_ns div 1000)")
    )
    return (
        ev.groupBy(F.session_window("ts_ltz", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


@register(
    "stream_session_window",
    # Exact value oracle for append-mode session windows over a single-file
    # (one-micro-batch) input: the run emits precisely the sessions whose
    # end ≤ the final watermark (max event time − 1h). Session semantics in
    # SQL: a new session starts when the gap to the previous event is ≥ the
    # 30-min gap (Spark merges an event iff its time < previous window
    # end, which is exclusive); session end = last event + gap. Verified
    # row-set-identical to the streaming output at sf0.001/0.01/0.1.
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
flagged AS (
  SELECT user_id, ts_us,
     CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000
            OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), sess AS (
  SELECT user_id, ts_us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id, MIN(ts_us) AS sess_start_us,
         MAX(ts_us) + 1800000000 AS sess_end_us, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, sess_start_us, sess_end_us, n_events
FROM agg, (SELECT MAX(epoch_us(ts)) - 3600000000 AS wm FROM events) w
WHERE sess_end_us <= wm
""",
    survey_ref="T2,T3,S12",
    doc="streaming session_window(30m) per user with 1h watermark",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    _assert_single_events_file(sf_dir, "stream_session_window")
    out = run_to_completion(
        session_window_stream(spark, sf_dir), "stream_session_window", "append"
    )
    # Project window bounds to epoch-micros: tz-independent, hash-stable.
    return out.select(
        "user_id",
        F.unix_micros("sess_start").alias("sess_start_us"),
        F.unix_micros("sess_end").alias("sess_end_us"),
        "n_events",
    )


# --- T4: stateful dedup -----------------------------------------------------


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).withWatermark("ts_ltz", "1 hour")
    return ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "stream_dedup",
    # event_id is unique in the testdata and the raw events table is a
    # single file (= one micro-batch, watermark still at minus-infinity),
    # so nothing is dropped as duplicate OR as late: the streaming output
    # equals the plain projection, which is the exact oracle.
    oracle="SELECT event_id, user_id, event_type FROM events",
    survey_ref="T4,T3,S12",
    doc="stateful streaming dedup on event_id within the watermark",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-file dirs advance the watermark between micro-batches and would
    # drop late rows, breaking the plain-projection oracle above.
    _assert_single_events_file(sf_dir, "stream_dedup")
    return run_to_completion(dedup_stream(spark, sf_dir), "stream_dedup", "append")


# --- T6: stream-static join -------------------------------------------------


def stream_static_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the event stream against a small static dimension (user segment
    lookup) — the static side is broadcast into every micro-batch."""
    segments = spark.range(0, 10000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.join(F.broadcast(segments), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_static_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_sh_lianjia_spark.session import load_tables

    segments = spark.range(0, 10000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    return (
        ev.join(F.broadcast(segments), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_static_join",
    oracle="""
SELECT user_id % 5 AS segment, COUNT(*) AS n
FROM events
WHERE user_id < 10000
GROUP BY user_id % 5
""",
    survey_ref="T6,S12",
    doc="stream-static broadcast join + agg (has a SQL oracle: closed input)",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(
        stream_static_join_stream(spark, sf_dir), "stream_static_join", "complete"
    )


# --- T5: arbitrary stateful op (running per-user counter) -------------------


def stateful_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counter via applyInPandasWithState — the arbitrary-state
    extension point (reference analogue: the spider's self.count at
    house_spider/spiders/lianjia.py:19,157-158, a running emitted-rows
    counter kept across callbacks)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from data_etl_sh_lianjia_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    ev = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_stateful_counter",
    # Exact oracle: the counter is monotone and never evicted (NoTimeout, no
    # watermark filter ahead of it), so max-over-updates per user == the
    # final count == the batch aggregate — regardless of how many triggers
    # the input splits into.
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
    survey_ref="T5,S12",
    doc="applyInPandasWithState running per-user counters (update mode)",
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state per user (last update) — equals batch groupBy count; the
    memory sink holds every update, so take the max per user."""
    out = run_to_completion(
        stateful_counter_stream(spark, sf_dir), "stream_stateful_counter", "update"
    )
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


# --- T6b: stream-stream interval join ---------------------------------------


def stream_stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase joins the same user's clicks
    from the preceding 30 minutes. Both sides carry watermarks and the join
    condition is time-bounded in BOTH directions, so the state store can
    evict rows once the watermark passes — without the bound, stream-stream
    join state grows forever (SCALE.md §6)."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withWatermark("ts_ltz", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts_ltz").alias("c_ts"),
            F.expr("ts_ns div 1000").alias("c_ts_us"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts_ltz", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts_ltz").alias("p_ts"),
            F.expr("ts_ns div 1000").alias("p_ts_us"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts_us",
        "c_ts_us",
    )


def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_sh_lianjia_spark.session import load_tables

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    us = ev.select(
        "user_id", "event_id", "event_type", F.expr("ts_ns div 1000").alias("ts_us")
    )
    clicks = us.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("c_ts_us"),
    )
    purchases = us.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("p_ts_us"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts_us") >= F.col("p_ts_us") - F.lit(1_800_000_000))
        & (F.col("c_ts_us") <= F.col("p_ts_us")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts_us",
        "c_ts_us",
    )


@register(
    "stream_stream_join",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
)
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts_us AS p_ts_us,
       c.ts_us AS c_ts_us
FROM e p
JOIN e c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
""",
    survey_ref="T6,S12,J4",
    doc="stream-stream interval join: purchases x prior 30-min clicks per user",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Route through the sentinel-closed copy like the left join: a
    # multi-file (or directory-form) events landing would otherwise stream
    # one file per trigger, advancing the watermark between files and
    # silently dropping late rows the whole-table oracle keeps. Sentinel
    # rows (user −1) join only each other and are filtered out.
    closed = _closed_events_dir(sf_dir)
    out = run_to_completion(
        stream_stream_join_stream(spark, closed), "stream_stream_join", "append"
    )
    return out.filter(F.col("user_id") >= 0)


def stream_stream_left_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: purchases keep a row even with no
    prior click — but the NULL-extended row can only emit once the
    watermark proves no matching click can still arrive, so unmatched
    purchases newer than (final watermark) stay in state when a bounded
    run terminates. That cutoff is watermark SEMANTICS, not a bug, and the
    parity test asserts it exactly (SCALE.md §6: outer stream-stream joins
    emit on watermark, never promptly)."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withWatermark("ts_ltz", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts_ltz").alias("c_ts"),
            F.expr("ts_ns div 1000").alias("c_ts_us"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts_ltz", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts_ltz").alias("p_ts"),
            F.expr("ts_ns div 1000").alias("p_ts_us"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts_us",
        "c_ts_us",
    )


@register(
    "stream_stream_left_join",
    # Exact value oracle via a sentinel-closed input: two staggered
    # far-future sentinel batches drive the watermark past every real
    # event, so ALL retained outer state drains before the run ends and
    # the emission equals the batch LEFT JOIN (sentinel user −1 filtered
    # from the output). The raw watermark-cutoff behavior (null rows only
    # for state the final watermark expired) stays pinned by
    # tests/test_streaming.py::test_left_outer_stream_join_parity, which
    # runs the same stream WITHOUT sentinels.
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
)
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts_us AS p_ts_us,
       c.ts_us AS c_ts_us
FROM (SELECT * FROM e WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
""",
    survey_ref="T6,T3,S12,J4",
    doc="LEFT OUTER stream-stream join: null-extended rows emit on watermark expiry",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    closed = _closed_events_dir(sf_dir)
    out = run_to_completion(
        stream_stream_left_join_stream(spark, closed),
        "stream_stream_left_join",
        "append",
    )
    return out.filter(F.col("user_id") >= 0)


# --- T5b: arbitrary state via transformWithStateInPandas (Spark 4.x API) ----


def tws_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformWithStateInPandas successor of applyInPandasWithState:
    typed per-key ValueState, explicit processor lifecycle, RocksDB-backed
    state store (the 100 TB posture — state no longer lives on executor
    heaps; see SCALE.md §6)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from data_etl_sh_lianjia_spark.session import (
        ensure_package_shipped,
        ensure_protobuf_shipped,
    )

    ensure_package_shipped(spark)
    ensure_protobuf_shipped(spark)

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            total = sum(len(pdf) for pdf in rows)
            prev = self._count.get()
            cur = (prev[0] if prev else 0) + total
            self._count.update((cur,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [cur]})

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir)
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType="user_id long, n_events long",
        outputMode="Update",
        timeMode="None",
    )


@contextmanager
def _tws_arrow_batch(spark: SparkSession):
    """Scope bigger Arrow batches around a transformWithStateInPandas run
    (VERDICT r11 #6 — the one batching lever the per-key API exposes).
    The per-KEY Python dispatch (one handleInputRows call + protobuf
    state round-trips per key) is the API's shape and cannot be batched
    away, but the INPUT and STATE Arrow transfer batch sizes can:
    10k-row batches (default) split the sf0.1 input into ~60 transfers
    and chunk every state op's traffic. Raising both to 200k (rows here
    are ~40 B, so a batch is ~8 MB of Arrow — bounded) measured: counter
    median 7.3→5.4 s, type_stats 17.2→8.7 s (3 interleaved A/B rounds,
    warm session). Session-scoped set/restore under the same lock as the
    bounded-shuffle window (single-session conf mutation caveat)."""
    keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.transformWithStateInPySpark."
        "maxStateRecordsPerBatch",
    )
    val = os.environ.get("SPARK_GRAFT_TWS_ARROW_BATCH", "200000")
    with _BOUNDED_SHUFFLE_LOCK:
        prev = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, val)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _tws_available() -> bool:
    """transformWithStateInPandas workers speak protobuf to the JVM state
    server; the pyspark API exists without it, but every query fails at
    runtime. Gate registration on the actual worker dependency — resolved
    through the engine's system-protobuf probe (session.py), which also
    ships the package to workers at query time."""
    from data_etl_sh_lianjia_spark.session import _ensure_protobuf_importable

    return _ensure_protobuf_importable()


def _register_tws():
    return register(
        "stream_tws_counter",
        oracle="""
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
""",
        survey_ref="T5,S12",
        doc="transformWithStateInPandas per-user counters (ValueState, RocksDB store)",
    )


@(_register_tws() if _tws_available() else (lambda f: f))
def stream_tws_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-matched because the closed single-file input runs in one
    trigger: each user's single Update emission IS the final count (the
    max-per-user reduction keeps it correct if the source ever splits into
    multiple triggers)."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with _tws_arrow_batch(spark):
            out = run_to_completion(
                tws_counter_stream(spark, sf_dir), "stream_tws_counter",
                "update",
            )
    finally:
        if prev:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def tws_type_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with the COMPOSITE state types: a
    per-user MapState keyed on event_type holding (count, exact scaled
    sum) — the shape a real per-entity feature store keeps — plus a
    ListState ledger of per-trigger batch sizes (exercises append/get).
    Each trigger re-emits the user's full per-type totals; on a closed
    single-file input that one emission IS the final answer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from data_etl_sh_lianjia_spark.session import (
        ensure_package_shipped,
        ensure_protobuf_shipped,
    )

    ensure_package_shipped(spark)
    ensure_protobuf_shipped(spark)

    class TypeStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._by_type = handle.getMapState(
                "bytype", "event_type STRING", "n BIGINT, sv BIGINT"
            )
            self._batches = handle.getListState("batches", "rows BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                self._batches.appendValue((len(pdf),))
                sv = np.floor(
                    pdf["value"].to_numpy(dtype=np.float64) * 10000 + 0.5
                ).astype(np.int64)
                g = pd.DataFrame(
                    {"t": pdf["event_type"], "sv": sv}
                ).groupby("t", sort=False)
                for t, sub in g:
                    prev = (
                        self._by_type.getValue((t,))
                        if self._by_type.containsKey((t,))
                        else (0, 0)
                    )
                    self._by_type.updateValue(
                        (t,),
                        (prev[0] + len(sub), prev[1] + int(sub["sv"].sum())),
                    )
            n_batches = sum(1 for _ in self._batches.get())
            out_t, out_n, out_s = [], [], []
            for (t,), (n, sv) in self._by_type.iterator():
                out_t.append(t)
                out_n.append(n)
                out_s.append(sv / 10000.0)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_t),
                    "event_type": out_t,
                    "n_events": out_n,
                    "sum_value": out_s,
                    "n_batches": [n_batches] * len(out_t),
                }
            )

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir)
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeStatsProcessor(),
        outputStructType=(
            "user_id long, event_type string, n_events long,"
            " sum_value double, n_batches long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def _register_tws_type_stats():
    return register(
        "stream_tws_type_stats",
        # n_batches >= 1 collapses to a constant flag on the single-file
        # (one-trigger) driver input — the ListState leg's oracle surface
        oracle=f"""
SELECT user_id, event_type, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')},
       TRUE AS multi_batch_ok
FROM events
GROUP BY user_id, event_type
""",
        survey_ref="T5,S12",
        doc="transformWithStateInPandas composite state: per-user MapState "
            "(per-type count + exact sum) + ListState trigger ledger",
    )


@(_register_tws_type_stats() if _tws_available() else (lambda f: f))
def stream_tws_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState/ListState TWS surface, driver-checkable form: per-user
    per-type exact counts and scaled-long sums from the map state; the
    boolean certifies the ListState ledger saw every trigger. Update-mode
    re-emissions reduce via max (counts are monotone)."""
    _assert_single_events_file(sf_dir, "stream_tws_type_stats")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with _tws_arrow_batch(spark):
            out = run_to_completion(
                tws_type_stats_stream(spark, sf_dir),
                "stream_tws_type_stats", "update",
            )
    finally:
        if prev:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)
    return (
        out.groupBy("user_id", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
            (F.max("n_batches") >= F.lit(1)).alias("multi_batch_ok"),
        )
    )


# --- T-sink: foreachBatch idempotent file sink -------------------------------


@register(
    "stream_foreach_batch_sink",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
FROM events
GROUP BY user_id
""",
    survey_ref="T7,S8,S12",
    doc="foreachBatch exactly-once sink: per-epoch overwrite dirs, latest state wins on read-back",
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-sink surface (S8 at streaming time): an update-mode
    per-user aggregation lands through ``foreachBatch``, which writes each
    epoch's changed rows to its own ``epoch=<id>`` directory with
    ``mode=overwrite`` — a replayed epoch after failure overwrites the same
    directory, giving exactly-once output on top of at-least-once delivery
    (the standard idempotent-sink recipe). Read-back reduces to the latest
    emission per user. The input is closed, so the final state must equal
    the batch aggregate — which is the DuckDB oracle (T7 batch-equivalence,
    scaled-long exact sums). At scale the same recipe targets transactional
    table formats (MERGE per epoch) instead of directories."""
    import shutil
    import tempfile
    import uuid

    out_dir = tempfile.mkdtemp(prefix="spark-graft-fb-")
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias(
            "sum_scaled"
        ),
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    unique = f"fb_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join("/tmp/spark-graft-ckpt", unique)
    with _bounded_stream_shuffle(spark):
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(write_epoch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    from pyspark.sql.window import Window

    sunk = spark.read.option("basePath", out_dir).parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("epoch"))
    result = (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("sum_scaled").cast("double") / F.lit(10000.0)).alias("sum_value"),
        )
    )
    # Materialize the (one-row-per-user, bounded) read-back reduction so the
    # sink + checkpoint dirs can be removed instead of leaking one pair per
    # invocation. The returned frame no longer references the deleted files.
    rows = result.collect()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


@register(
    "stream_lakehouse_ingest",
    oracle="""
WITH ts_events AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us, value,
         CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
                OR lag(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ts_events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sessions AS (
  SELECT user_id, ts_us, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       (MAX(ts_us) - MIN(ts_us)) // 1000 AS duration_ms,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
         AS sum_value
FROM sessions
GROUP BY user_id, session_id
""",
    survey_ref="S12,S9,T7,W5",
    doc="streaming micro-batches land through the lakehouse delta ingest; sessions maintained per epoch",
)
def stream_lakehouse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→lakehouse integration (autoloader shape): a file
    stream watches a staging area; ``foreachBatch`` lands each
    micro-batch's files BYTE-IDENTICALLY into the managed events landing
    dir and runs the engine's delta ingest — the O(batch) append path
    plus the merge of every artifact that exists (the sessions artifact,
    read once before the stream starts so its first read builds it, is
    bucketed and re-sessionizes only the batch's users per epoch). After
    the stream drains, sessionize over the catalog — served from the
    stream-maintained artifact — must equal the batch oracle over the
    full event set (T7 batch-equivalence, extended to the storage layer).

    The batch DataFrame is used only to NAME the arrived files
    (``input_file_name``); the landing copies raw bytes, so timestamp
    precision survives regardless of how the stream source surfaces the
    nanos column (see read_events_stream's magnitude note)."""
    import glob
    import shutil
    import tempfile
    import uuid

    import pyarrow.parquet as pq

    from data_etl_sh_lianjia_spark.session import (
        _projection_view,
        ingest_tables,
    )

    scratch = tempfile.mkdtemp(prefix="spark-graft-slh-")
    land_dir = os.path.join(scratch, "events.parquet")
    os.makedirs(land_dir)
    staging = tempfile.mkdtemp(prefix="spark-graft-slh-stage-")
    try:
        src = table_path(sf_dir, "events")
        parts = (
            sorted(glob.glob(os.path.join(src, "*.parquet")))
            if os.path.isdir(src)
            else [src]
        )
        ev = pq.read_table(parts[0])
        for extra in parts[1:]:
            import pyarrow as pa

            ev = pa.concat_tables([ev, pq.read_table(extra)])
        n = ev.num_rows
        # half lands as the base table; the rest arrives as two stream files
        pq.write_table(ev.slice(0, n // 2), os.path.join(land_dir, "b0.parquet"))
        pq.write_table(
            ev.slice(n // 2, n // 4), os.path.join(staging, "s1.parquet")
        )
        pq.write_table(
            ev.slice(n // 2 + n // 4), os.path.join(staging, "s2.parquet")
        )
        ingest_tables(spark, scratch)
        # first read of the sessions artifact: every epoch's ingest below
        # then merges it instead of leaving it unbuilt
        _projection_view(
            spark, scratch, "events.sessions.resultproj.parquet",
            "lj_events_sessions",
        )

        # Schema for the staged slices from the pyarrow table already in
        # hand (one Spark metadata job saved per invocation); the stream's
        # rows are used only to NAME arrived files, never for values.
        from pyspark.sql.pandas.types import from_arrow_schema

        stream = (
            spark.readStream.schema(from_arrow_schema(ev.schema))
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )

        def land(batch_df: DataFrame, epoch_id: int) -> None:
            files = [
                r[0]
                for r in batch_df.select(
                    F.input_file_name().alias("f")
                ).distinct().collect()
            ]
            for f in files:
                path = f.removeprefix("file:").lstrip("/")
                shutil.copy("/" + path, os.path.join(land_dir, os.path.basename(path)))
            ingest_tables(spark, scratch)

        ckpt = os.path.join(
            "/tmp/spark-graft-ckpt", f"slh_{uuid.uuid4().hex[:12]}"
        )
        # NO _bounded_stream_shuffle here: the stream itself is stateless
        # (file source -> foreachBatch), so there is no per-partition
        # state-store cost to save — and the foreachBatch body runs the
        # engine's BATCH delta ingest + projection merges, which want the
        # session's batch-regime parallelism (capping measured 2x slower).
        q = (
            stream.writeStream.foreachBatch(land)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)

        from data_etl_sh_lianjia_spark.plans.registry import all_queries

        result = all_queries()["sessionize"].spark_fn(spark, scratch)
        # Materialize before the scratch dir drops — through ARROW, not
        # collect(): the sessions result is O(sessions) rows and the
        # row-pickle path pays per-row serialization both ways (guide
        # §6: Arrow for driver transfers); createDataFrame keeps the
        # exact schema so values hash identically.
        tbl = result.toArrow()
        return spark.createDataFrame(tbl, schema=result.schema)
    finally:
        redirect = getattr(spark, "_lianjia_ingest_map", None) or {}
        out_dir = redirect.pop(os.path.normpath(scratch), None)
        if out_dir:
            shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)


@register(
    "stream_merge_upsert",
    # Streaming MERGE (CDC-style upsert ingestion): each micro-batch
    # upserts the LAST event per derived customer key into the managed
    # customer copy via the storage-level merge_into. The oracle replays
    # the same last-writer-wins reduction + upsert over the untouched
    # sources in one SQL pass.
    oracle=f"""
WITH mx AS (
  SELECT MAX(c_custkey) AS mk FROM customer
), src AS (
  SELECT (user_id % mk) + 1 AS k, value, epoch_us(ts) AS tu, event_id
  FROM events CROSS JOIN mx
), last AS (
  SELECT k, value FROM (
    SELECT k, value,
           row_number() OVER (
             PARTITION BY k ORDER BY tu DESC, event_id DESC
           ) AS rn
    FROM src
  ) WHERE rn = 1
), merged AS (
  SELECT c.c_mktsegment, COALESCE(l.value, c.c_acctbal) AS bal
  FROM customer c LEFT JOIN last l ON c.c_custkey = l.k
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {oracle_dsum('bal', 'sum_bal', scale=4)}
FROM merged
GROUP BY c_mktsegment
""",
    survey_ref="T7,S12,J3",
    doc="streaming CDC upsert: foreachBatch MERGE INTO the managed "
        "customer copy (last event per key wins); post-stream aggregate",
    tags=("mutation",),
)
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→MERGE integration (the CDC-ingestion shape Delta's
    `foreachBatch { merge }` recipe documents): the event stream drives
    per-epoch upserts into a managed dimension — matched keys REPLACE
    (account balance := the key's latest event value), nothing inserts
    (derived keys land inside the existing key domain), and each epoch's
    merge rides the pinned delete∘append composition with all its
    projection maintenance. Exactly-once per epoch: merge_into lands a
    uniquely-tagged batch file, so a replayed epoch re-applies the same
    logical upsert (same keys, same values), idempotent at the value
    level. Deterministic on the closed single-file input (one epoch; the
    oracle's last-writer-wins reduction is the epoch's own reduction)."""
    import shutil
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_etl_sh_lianjia_spark import session as sess
    from data_etl_sh_lianjia_spark.operators.mutations import (
        _drop_scratch,
        _scratch_copy,
    )

    _assert_single_events_file(sf_dir, "stream_merge_upsert")
    scratch = _scratch_copy(sf_dir, "customer", as_dir=True)
    try:
        sess.ingest_tables(spark, scratch)
        cust = pq.read_table(
            os.path.join(scratch, "customer.parquet", "part-00000.parquet")
        )
        mk = pc.max(cust["c_custkey"]).as_py()
        cols = cust.schema.names

        def upsert(batch_df: DataFrame, epoch_id: int) -> None:
            pdf = batch_df.select(
                "user_id", "value", "ts_ns", "event_id"
            ).toPandas()
            if pdf.empty:
                return
            pdf["k"] = (pdf["user_id"] % mk + 1).astype("int64")
            last = (
                pdf.sort_values(["ts_ns", "event_id"])
                .groupby("k", sort=False)
                .tail(1)[["k", "value"]]
            )
            base = cust.filter(
                pc.is_in(
                    cust["c_custkey"],
                    value_set=pa.array(last["k"], type=pa.int64()),
                )
            ).to_pandas()
            base = base.merge(last, left_on="c_custkey", right_on="k")
            base["c_acctbal"] = base["value"].astype(np.float64)
            batch = pa.Table.from_pandas(
                base[cols], preserve_index=False
            ).cast(cust.schema)
            sess.merge_into(spark, scratch, "customer", batch, "c_custkey")

        ckpt = os.path.join(
            "/tmp/spark-graft-ckpt", f"smu_{uuid.uuid4().hex[:12]}"
        )
        # Stateless stream + batch MERGE work inside foreachBatch — keep
        # the batch-regime partitioning (see stream_lakehouse_ingest).
        q = (
            read_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)

        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "customer.parquet"))
        result = post.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "sum_bal", scale=4),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


# --- T-sink: custom Python DataSourceStreamWriter ----------------------------


class _StreamFeedCommit(WriterCommitMessage):
    def __init__(self, staged: str, rows: int) -> None:
        self.staged = staged
        self.rows = rows


class JsonFeedStreamWriter(DataSourceStreamWriter):
    """Streaming half of the custom feed sink (see sources/pagefeed.py for
    the batch writer): executors stage one .jsonl per partition per
    micro-batch, and commit(messages, batchId) promotes them under names
    KEYED BY (batchId, partition) — a replayed epoch after failure
    overwrites the same files, the idempotent-sink recipe that turns
    at-least-once delivery into exactly-once output."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("lianjia_feed_stream sink requires a path option")

    def write(self, iterator) -> _StreamFeedCommit:
        import json
        import os as _os
        import uuid

        staged = _os.path.join(
            self.path, f"_staged-{uuid.uuid4().hex}.jsonl"
        )
        _os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _StreamFeedCommit(staged, n)

    def commit(self, messages, batchId) -> None:  # noqa: N803 (Spark API name)
        import os as _os

        for i, m in enumerate(messages):
            _os.replace(
                m.staged,
                _os.path.join(self.path, f"part-{batchId:05d}-{i:05d}.jsonl"),
            )

    def abort(self, messages, batchId) -> None:  # noqa: N803
        import os as _os

        for m in messages:
            if m is not None and _os.path.exists(m.staged):
                _os.remove(m.staged)


class JsonFeedStreamSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "lianjia_feed_stream"

    def schema(self) -> str:  # sink-only
        return "value string"

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        return JsonFeedStreamWriter(self.options)


@register(
    "stream_python_sink",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_scaled
FROM events
GROUP BY user_id
""",
    survey_ref="T7,S8,S12",
    doc="custom Python DataSourceStreamWriter sink: per-epoch staged commit, read-back agg equals batch",
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming custom-sink API surface end-to-end: the events stream
    writes row-level records through a registered Python
    DataSourceStreamWriter (per-partition staging, per-epoch idempotent
    commit), the published .jsonl feed reads back through the ordinary
    JSON source, and the read-back per-user aggregate must equal the batch
    aggregate over the same closed input (T7)."""
    import shutil
    import tempfile
    import uuid

    _assert_single_events_file(sf_dir, "stream_python_sink")
    if not getattr(spark, "_lianjia_feed_stream_registered", False):
        spark.dataSource.register(JsonFeedStreamSink)
        spark._lianjia_feed_stream_registered = True

    out_dir = tempfile.mkdtemp(prefix="spark-graft-pysink-")
    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias(
            "scaled"
        ),
    )
    unique = f"pysink_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join("/tmp/spark-graft-ckpt", unique)
    with _bounded_stream_shuffle(spark):
        q = (
            ev.writeStream.format("lianjia_feed_stream")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    back = spark.read.schema("user_id long, scaled long").json(
        f"{out_dir}/*.jsonl"
    )
    result = back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("scaled").cast("bigint").alias("sum_scaled"),
    )
    rows = result.collect()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)
