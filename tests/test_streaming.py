"""Streaming ↔ batch parity (SURVEY.md §2.8 T7): every streaming aggregation
run to completion on the closed events input must equal its batch twin."""

from __future__ import annotations

import pytest

from data_etl_sh_lianjia_spark.canon import compare_results
from data_etl_sh_lianjia_spark.streaming import events as se

PARITY_CASES = [
    ("tumbling", se.tumbling_counts_stream, se.tumbling_counts_batch, "complete"),
    ("sliding", se.sliding_avg_stream, se.sliding_avg_batch, "complete"),
    (
        "stream_static_join",
        se.stream_static_join_stream,
        se.stream_static_join_batch,
        "complete",
    ),
    (
        "stream_stream_join",
        se.stream_stream_join_stream,
        se.stream_stream_join_batch,
        "append",
    ),
]


@pytest.mark.parametrize("name,stream_fn,batch_fn,mode", PARITY_CASES, ids=[c[0] for c in PARITY_CASES])
def test_stream_equals_batch(name, stream_fn, batch_fn, mode, spark, sf_dir):
    out = se.run_to_completion(stream_fn(spark, sf_dir), f"parity_{name}", mode)
    stream_rows = [tuple(r) for r in out.collect()]
    batch_df = batch_fn(spark, sf_dir)
    batch_rows = [tuple(r) for r in batch_df.collect()]
    res = compare_results(stream_rows, out.columns, batch_rows, batch_df.columns)
    assert res.ok, f"{name}: {res.reason}\nsample: {res.sample_diff}"


def test_session_window_parity_with_sentinel(spark, sf_dir, tmp_path):
    """Append-mode session windows only emit once the watermark passes them,
    so the tail sessions of a finite input stay open forever. Close them by
    appending a far-future sentinel event, then exact parity holds after
    filtering the sentinel user out of both sides."""
    import os
    import shutil
    import time

    import duckdb

    workdir = tmp_path / "events_with_sentinel"
    workdir.mkdir()
    src = f"{sf_dir}/events.parquet"
    shutil.copy(src, workdir / "events.parquet")
    con = duckdb.connect()
    # Two staggered far-future sentinel files (ts kept TIMESTAMP_NS to match
    # the engine's nanos-as-long read path). Each file is one micro-batch
    # (oldest mtime first): the batch reading sentinel N starts with the
    # watermark advanced past everything before it, so by the last batch all
    # real sessions have been finalized and emitted.
    base = time.time()
    for i, hours in enumerate((10, 30), start=1):
        dst = workdir / f"events_sentinel{i}.parquet"
        # ts written as raw BIGINT epoch-nanos: DuckDB's parquet writer can't
        # emit TIMESTAMP(NANOS), and the engine's LongType schema reads a
        # plain INT64 column identically to nanos-as-long timestamps.
        con.execute(
            f"""
            COPY (
              SELECT CAST(-1 AS BIGINT) AS event_id,
                     epoch_ns(MAX(ts)) + CAST({hours} AS BIGINT) * 3600 * 1000000000 AS ts,
                     CAST(-1 AS BIGINT) AS user_id,
                     'sentinel' AS event_type, 0.0 AS value, '{{}}' AS props
              FROM read_parquet('{src}')
            ) TO '{dst}' (FORMAT PARQUET)
            """
        )
        os.utime(dst, (base + 100 * i, base + 100 * i))
    con.close()
    os.utime(workdir / "events.parquet", (base, base))

    out = se.run_to_completion(
        se.session_window_stream(spark, str(workdir)), "parity_session", "append"
    ).filter("user_id >= 0")
    stream_rows = [tuple(r) for r in out.collect()]
    batch_df = se.session_window_batch(spark, str(workdir)).filter("user_id >= 0")
    batch_rows = [tuple(r) for r in batch_df.collect()]
    res = compare_results(stream_rows, out.columns, batch_rows, batch_df.columns)
    assert res.ok, f"session_window: {res.reason}\nsample: {res.sample_diff}"


def test_stream_dedup_drops_nothing_on_unique_ids(spark, sf_dir):
    """event_id is unique in the fixture, so watermark-dedup must be a no-op."""
    from data_etl_sh_lianjia_spark.session import load_tables

    out = se.run_to_completion(se.dedup_stream(spark, sf_dir), "parity_dedup", "append")
    n_stream = out.count()
    n_batch = load_tables(spark, sf_dir, names=("events",))["events"].count()
    assert n_stream == n_batch


def test_stateful_counter_matches_batch_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import load_tables
    from data_etl_sh_lianjia_spark.streaming.events import stream_stateful_counter

    out = stream_stateful_counter(spark, sf_dir)
    stream_rows = [tuple(r) for r in out.collect()]
    batch = (
        load_tables(spark, sf_dir, names=("events",))["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    batch_rows = [tuple(r) for r in batch.collect()]
    res = compare_results(stream_rows, out.columns, batch_rows, batch.columns)
    assert res.ok, f"stateful counter: {res.reason}\nsample: {res.sample_diff}"


def test_tws_counter_matches_batch_or_skips(spark, sf_dir):
    """transformWithStateInPandas (Spark 4.x typed-state API) — its workers
    need google.protobuf, absent from this container; the query registers
    (and the driver exercises it) only where the dependency exists."""
    from data_etl_sh_lianjia_spark.streaming.events import (
        _tws_available,
        stream_tws_counter,
    )

    if not _tws_available():
        import pytest

        pytest.skip("google.protobuf not installed: TWS workers cannot start")
    out = stream_tws_counter(spark, sf_dir)
    rows = {tuple(r) for r in out.collect()}
    from data_etl_sh_lianjia_spark.session import load_tables

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    expected = {
        tuple(r)
        for r in ev.groupBy("user_id").count().withColumnRenamed("count", "n_events").collect()
    }
    assert rows == expected


def test_left_outer_stream_join_parity(spark, sf_dir):
    """LEFT OUTER stream-stream join semantics, exactly:
    - matched rows equal the batch inner interval join;
    - NULL-extended rows appear only for unmatched purchases, and only
      those old enough that the final watermark proved no click can
      arrive (watermark = max event time - 1h delay);
    - every unmatched purchase strictly older than the final watermark
      minus the join bound emits its NULL row (the no-data final batch
      flushes expired state)."""
    import data_etl_sh_lianjia_spark.streaming.events as se
    from pyspark.sql import functions as F

    # Raw (no-sentinel) run: the registered query closes the input to drain
    # all state; this test pins the *unclosed* watermark-cutoff semantics.
    out = se.run_to_completion(
        se.stream_stream_left_join_stream(spark, sf_dir),
        "raw_left_join",
        "append",
    ).collect()
    inner = {
        (r["purchase_id"], r["click_id"])
        for r in se.stream_stream_join_batch(spark, sf_dir).collect()
    }
    matched = {(r["purchase_id"], r["click_id"]) for r in out if r["click_id"] is not None}
    assert matched == inner

    matched_purchases = {p for p, _ in inner}
    null_rows = {r["purchase_id"]: r["p_ts_us"] for r in out if r["click_id"] is None}
    assert not (set(null_rows) & matched_purchases), "null row for a matched purchase"

    from data_etl_sh_lianjia_spark.session import load_tables

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    max_us = ev.agg(F.max(F.expr("ts_ns div 1000"))).collect()[0][0]
    watermark_us = max_us - 3_600_000_000  # 1h delay
    all_purchases = {
        r["event_id"]: r["us"]
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.expr("ts_ns div 1000").alias("us"))
        .collect()
    }
    unmatched = {
        p: us for p, us in all_purchases.items() if p not in matched_purchases
    }
    # null rows only for unmatched purchases
    assert set(null_rows) <= set(unmatched)
    # definitely-expired unmatched purchases must all have emitted
    definitely_expired = {
        p for p, us in unmatched.items() if us < watermark_us - 1_800_000_000
    }
    assert definitely_expired <= set(null_rows), (
        f"{len(definitely_expired - set(null_rows))} expired purchases missing"
    )


def test_left_join_flush_equals_batch_left_join(spark, sf_dir):
    """The registered stream_stream_left_join runs over a sentinel-closed
    input, so its output must equal the full batch LEFT JOIN exactly."""
    import data_etl_sh_lianjia_spark.streaming.events as se
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import load_tables

    out = se.stream_stream_left_join(spark, sf_dir)
    stream_rows = [tuple(r) for r in out.collect()]
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
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts_us") >= F.col("p_ts_us") - F.lit(1_800_000_000))
        & (F.col("c_ts_us") <= F.col("p_ts_us")),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts_us",
        "c_ts_us",
    )
    batch_rows = [tuple(r) for r in batch.collect()]
    res = compare_results(stream_rows, out.columns, batch_rows, batch.columns)
    assert res.ok, f"left join flush: {res.reason}\nsample: {res.sample_diff}"


def test_closed_events_dir_handles_directory_form_source(spark, sf_dir, tmp_path):
    """A directory-form events landing (multiple part files under
    events.parquet/) must be concatenated into ONE streamed file by
    _closed_events_dir — copying the directory as-is would stream each
    part as its own micro-batch (watermark advancing between parts drops
    late rows the whole-table oracle keeps), and _assert_single_events_file
    must reject such a source outright."""
    import glob

    import pyarrow.parquet as pq
    import pytest

    import data_etl_sh_lianjia_spark.streaming.events as se

    src = pq.read_table(f"{sf_dir}/events.parquet")
    dir_sf = tmp_path / "dirsf"
    ev_dir = dir_sf / "events.parquet"
    ev_dir.mkdir(parents=True)
    half = src.num_rows // 2
    pq.write_table(src.slice(0, half), str(ev_dir / "part-00000.parquet"))
    pq.write_table(src.slice(half), str(ev_dir / "part-00001.parquet"))

    with pytest.raises(AssertionError, match="single events file"):
        se._assert_single_events_file(str(dir_sf), "probe")

    closed = se._closed_events_dir(str(dir_sf))
    data_files = [
        f
        for f in glob.glob(f"{closed}/events*.parquet")
        if "sentinel" not in f
    ]
    assert len(data_files) == 1
    assert pq.read_table(data_files[0]).num_rows == src.num_rows

    # end-to-end: the registered inner stream-stream join over the
    # directory-form landing equals the same query over the plain file
    got = sorted(
        tuple(r) for r in se.stream_stream_join(spark, str(dir_sf)).collect()
    )
    want = sorted(
        tuple(r) for r in se.stream_stream_join(spark, sf_dir).collect()
    )
    assert got == want


def test_connector_rate_source_feeds_stateful_operators(spark, tmp_path):
    """The named-connector surface (S12 deployment story): the rate source
    must produce the normalized events frame, and a watermarked windowed
    aggregation — the same operator shape the registered streams use —
    must run on it unchanged."""
    from data_etl_sh_lianjia_spark.streaming.connectors import (
        events_stream_source,
    )

    from pyspark.sql import functions as F

    src = events_stream_source(spark, "rate", throttle=500)
    agg = (
        src.withWatermark("ts_ltz", "10 seconds")
        .groupBy(F.window("ts_ltz", "1 second"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_conn_probe")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 60
        rows = []
        while _t.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM rate_conn_probe").collect()
            if rows:
                break
            _t.sleep(1)
    finally:
        q.stop()
    assert rows, "rate connector produced no aggregated rows in 60s"
    assert {r.event_type for r in rows} <= {
        "view", "click", "purchase", "signup", "error"
    }


def test_connector_file_source_matches_direct_reader(spark, sf_dir):
    from data_etl_sh_lianjia_spark.streaming.connectors import (
        events_stream_source,
    )
    from data_etl_sh_lianjia_spark.streaming.events import read_events_stream

    via_conn = events_stream_source(spark, "file", path=sf_dir)
    direct = read_events_stream(spark, sf_dir)
    assert set(via_conn.columns) <= set(direct.columns)
    assert via_conn.isStreaming


def test_connector_kafka_requires_config_and_package(spark):
    import pytest

    from data_etl_sh_lianjia_spark.streaming.connectors import (
        events_stream_source,
    )

    with pytest.raises(ValueError, match="kafka source requires options"):
        events_stream_source(spark, "kafka")
    # With config present the failure (if any) must come from Spark's
    # missing kafka package, i.e. AFTER the engine-side wiring — in a
    # cluster deployment this same call succeeds.
    try:
        events_stream_source(
            spark,
            "kafka",
            options={
                "kafka.bootstrap.servers": "broker:9092",
                "subscribe": "events",
            },
        )
    except Exception as e:  # pragma: no cover - depends on classpath
        assert "kafka" in str(e).lower()


def test_connector_unknown_format_rejected(spark):
    import pytest

    from data_etl_sh_lianjia_spark.streaming.connectors import (
        events_stream_source,
    )

    with pytest.raises(ValueError, match="unknown stream source"):
        events_stream_source(spark, "pulsar")


def test_connector_validation_edges(spark, sf_dir):
    """Connector config errors must be precise: unknown format raises the
    named ValueError even with a throttle set; the file source refuses
    options it cannot honor; kafka accepts any single subscription mode."""
    import pytest

    from data_etl_sh_lianjia_spark.streaming.connectors import (
        events_stream_source,
    )

    with pytest.raises(ValueError, match="unknown stream source"):
        events_stream_source(spark, "pulsar", throttle=100)
    with pytest.raises(ValueError, match="cannot honor"):
        events_stream_source(spark, "file", path=sf_dir, throttle=16)
    with pytest.raises(ValueError, match="exactly one of"):
        events_stream_source(
            spark,
            "kafka",
            options={
                "kafka.bootstrap.servers": "b:9092",
                "subscribe": "a",
                "subscribePattern": "b.*",
            },
        )
    # subscribePattern alone passes engine-side validation; any failure
    # after that point is Spark's missing kafka package on this classpath
    try:
        events_stream_source(
            spark,
            "kafka",
            options={
                "kafka.bootstrap.servers": "b:9092",
                "subscribePattern": "events.*",
            },
        )
    except ValueError as e:  # engine-side rejection would be a regression
        raise AssertionError(f"valid kafka config rejected: {e}")
    except Exception as e:  # pragma: no cover - depends on classpath
        assert "kafka" in str(e).lower()


def test_stream_lakehouse_ingest_maintains_projections_per_epoch(
    spark, tmp_path, monkeypatch, first_read
):
    """The streaming->lakehouse path: each micro-batch lands through the
    O(batch) delta ingest (never a rebuild after the base ingest), the
    bucketed sessions artifact MERGES per epoch (never rebuilt), and the
    final catalog equals a batch ingest of the full event set."""
    import os
    import shutil
    import uuid

    import pyarrow.parquet as pq

    from data_etl_sh_lianjia_spark import session as sess
    from data_etl_sh_lianjia_spark.plans.registry import all_queries

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    scratch = tmp_path / "slh"
    (scratch / "events.parquet").mkdir(parents=True)
    staging = tmp_path / "stage"
    staging.mkdir()
    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = ev.num_rows
    pq.write_table(ev.slice(0, n // 2), str(scratch / "events.parquet" / "b0.parquet"))
    pq.write_table(ev.slice(n // 2, n // 4), str(staging / "s1.parquet"))
    pq.write_table(ev.slice(n // 2 + n // 4), str(staging / "s2.parquet"))
    out = sess.ingest_tables(spark, str(scratch))
    # the sessions artifact's first read builds it; each epoch merges it
    first_read(scratch, "events.sessions.resultproj.parquet")

    epochs = []

    def land(batch_df, epoch_id):
        from pyspark.sql import functions as F

        for (f,) in batch_df.select(F.input_file_name()).distinct().collect():
            path = "/" + f.removeprefix("file:").lstrip("/")
            shutil.copy(
                path,
                str(scratch / "events.parquet" / os.path.basename(path)),
            )
        sess.ingest_tables(spark, str(scratch))
        epochs.append(
            (
                spark._lianjia_ingest_appended,
                spark._lianjia_ingest_rebuilt,
                spark._lianjia_resultproj_merged,
            )
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(str(staging)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    ckpt = str(tmp_path / f"ckpt-{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    assert len(epochs) == 2, "two staged files -> two micro-batches"
    assert all(e == (1, 0, 1) for e in epochs), (
        "every epoch must take the O(batch) append path and MERGE the "
        f"sessions artifact (appended, rebuilt, merged) per epoch: {epochs}"
    )
    # final managed state == batch ingest of the full event set
    post = spark.read.parquet(os.path.join(out, "events.parquet"))
    assert post.count() == n
    got = all_queries()["sessionize"].spark_fn(spark, str(scratch))
    plan = got._jdf.queryExecution().toString()
    assert "lj_events_sessions" in plan and "Window" not in plan, (
        "sessionize must serve from the stream-maintained artifact "
        "(a Window in the plan means it fell back to the full re-window)"
    )


def test_tws_type_stats_matches_batch_or_skips(spark, sf_dir):
    """Composite-state TWS (MapState per-type totals + ListState trigger
    ledger) must equal the batch groupBy on a closed input."""
    from data_etl_sh_lianjia_spark.streaming.events import _tws_available

    if not _tws_available():
        import pytest

        pytest.skip("google.protobuf unavailable: TWS workers cannot start")
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.functions.deterministic import dsum
    from data_etl_sh_lianjia_spark.session import load_tables
    from data_etl_sh_lianjia_spark.streaming.events import stream_tws_type_stats

    out = stream_tws_type_stats(spark, sf_dir)
    got = {tuple(r) for r in out.collect()}
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    want = {
        tuple(r) + (True,)
        for r in ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .collect()
    }
    assert got == want


# ------------------------------------------------ exactly-once epoch replay
# The docstring claims in streaming/events.py (stream_merge_upsert: "a
# replayed epoch re-applies the same logical upsert, idempotent at the
# value level"; stream_lakehouse_ingest: byte-identical landing) made
# load-bearing: kill the query AFTER an epoch's side effect lands but
# BEFORE the epoch commits to the checkpoint, restart from the SAME
# checkpoint (Spark replays the uncommitted epoch — at-least-once
# delivery), and assert the final landed table equals the no-failure run.


class _InjectedCrash(RuntimeError):
    pass


def _split_events_stream_dir(tmp_path, name, with_customer=False):
    """Scratch sf-dir whose events arrive as TWO stream files (mtime-ordered
    -> two micro-batches under maxFilesPerTrigger=1)."""
    import os
    import shutil
    import time

    import pyarrow.parquet as pq

    scratch = tmp_path / name
    scratch.mkdir()
    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = ev.num_rows
    f1, f2 = str(scratch / "events1.parquet"), str(scratch / "events2.parquet")
    pq.write_table(ev.slice(0, n // 2), f1)
    pq.write_table(ev.slice(n // 2), f2)
    base = time.time() - 1000
    os.utime(f1, (base, base))
    os.utime(f2, (base + 100, base + 100))
    if with_customer:
        cdir = scratch / "customer.parquet"
        cdir.mkdir()
        shutil.copy(
            "/root/testdata/sf0.001/customer.parquet",
            str(cdir / "part-00000.parquet"),
        )
    return str(scratch), ev


def _run_merge_upsert_stream(spark, scratch, ckpt, epochs_seen, crash_state):
    """One streaming CDC-upsert run over the scratch dir's two event files:
    per-epoch last-event-per-key MERGE into the managed customer copy
    (the stream_merge_upsert recipe). crash_state={'armed': True} raises
    AFTER the first epoch's merge lands but before the epoch commits."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_etl_sh_lianjia_spark import session as sess
    from data_etl_sh_lianjia_spark.streaming.events import read_events_stream

    cust = pq.read_table(
        os.path.join(scratch, "customer.parquet", "part-00000.parquet")
    )
    mk = pc.max(cust["c_custkey"]).as_py()
    cols = cust.schema.names

    def upsert(batch_df, epoch_id):
        epochs_seen.append(epoch_id)
        pdf = batch_df.select(
            "user_id", "value", "ts_ns", "event_id"
        ).toPandas()
        if not pdf.empty:
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
        if crash_state.get("armed"):
            crash_state["armed"] = False
            raise _InjectedCrash(
                "crash after the merge landed, before the epoch ack"
            )

    q = (
        read_events_stream(spark, scratch)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def test_stream_merge_upsert_replays_epoch_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Kill stream_merge_upsert's shape after epoch 0's MERGE commits to
    storage but before the driver acknowledges the epoch; restart from the
    same checkpoint. Spark replays epoch 0 (at-least-once); the value-level
    idempotence of the per-epoch merge must make the final customer table
    equal the no-failure control run, with no duplicate rows."""
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from data_etl_sh_lianjia_spark import session as sess

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))

    # control: the no-failure run
    ctl_scratch, _ev = _split_events_stream_dir(
        tmp_path, "ctl", with_customer=True
    )
    sess.ingest_tables(spark, ctl_scratch)
    ctl_epochs: list = []
    _run_merge_upsert_stream(
        spark, ctl_scratch, str(tmp_path / "ctl-ckpt"), ctl_epochs, {}
    )
    assert ctl_epochs == [0, 1], "two stream files -> two epochs"
    ctl_out = spark._lianjia_ingest_map[os.path.normpath(ctl_scratch)]
    ctl = pq.read_table(os.path.join(ctl_out, "customer.parquet"))

    # crash run: epoch 0 applies, crashes pre-ack, then restarts and replays
    crs_scratch, _ev = _split_events_stream_dir(
        tmp_path, "crs", with_customer=True
    )
    sess.ingest_tables(spark, crs_scratch)
    crs_epochs: list = []
    ckpt = str(tmp_path / "crs-ckpt")
    with _pytest.raises(Exception, match="crash after the merge"):
        _run_merge_upsert_stream(
            spark, crs_scratch, ckpt, crs_epochs, {"armed": True}
        )
    assert crs_epochs == [0], "crashed during epoch 0"
    crs_out = spark._lianjia_ingest_map[os.path.normpath(crs_scratch)]
    mid = pq.read_table(os.path.join(crs_out, "customer.parquet"))
    assert mid.num_rows == ctl.num_rows, (
        "epoch 0's merge must be durably applied before the crash"
    )
    # restart from the SAME checkpoint: epoch 0 REPLAYS, then epoch 1 runs
    _run_merge_upsert_stream(spark, crs_scratch, ckpt, crs_epochs, {})
    assert crs_epochs == [0, 0, 1], (
        f"the uncommitted epoch must replay on restart: {crs_epochs}"
    )
    got = pq.read_table(os.path.join(crs_out, "customer.parquet"))
    assert got.num_rows == ctl.num_rows, "replay must not duplicate rows"
    assert sorted(
        zip(got["c_custkey"].to_pylist(), got["c_acctbal"].to_pylist())
    ) == sorted(
        zip(ctl["c_custkey"].to_pylist(), ctl["c_acctbal"].to_pylist())
    ), "replayed run must equal the no-failure run value-for-value"


def test_stream_lakehouse_ingest_replays_epoch_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Same kill/restart protocol for the streaming->lakehouse landing:
    epoch 0's files land byte-identically and ingest, the crash hits before
    the epoch ack, and the restarted stream re-lands the same basenames
    (overwrite) — the landed events table must equal the full set with no
    duplicates."""
    import os
    import shutil
    import uuid

    import pyarrow.parquet as pq
    import pytest as _pytest

    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark import session as sess

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    scratch = tmp_path / "slhx"
    (scratch / "events.parquet").mkdir(parents=True)
    staging = tmp_path / "stagex"
    staging.mkdir()
    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = ev.num_rows
    pq.write_table(
        ev.slice(0, n // 2), str(scratch / "events.parquet" / "b0.parquet")
    )
    pq.write_table(ev.slice(n // 2, n // 4), str(staging / "s1.parquet"))
    pq.write_table(ev.slice(n // 2 + n // 4), str(staging / "s2.parquet"))
    out = sess.ingest_tables(spark, str(scratch))

    crash_state = {"armed": True}
    epochs: list = []

    def land(batch_df, epoch_id):
        epochs.append(epoch_id)
        for (f,) in batch_df.select(F.input_file_name()).distinct().collect():
            path = "/" + f.removeprefix("file:").lstrip("/")
            shutil.copy(
                path,
                str(scratch / "events.parquet" / os.path.basename(path)),
            )
        sess.ingest_tables(spark, str(scratch))
        if crash_state.get("armed"):
            crash_state["armed"] = False
            raise _InjectedCrash(
                "crash after the landing ingested, before the epoch ack"
            )

    def start(ckpt):
        stream = (
            spark.readStream.schema(spark.read.parquet(str(staging)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(staging))
        )
        q = (
            stream.writeStream.foreachBatch(land)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    ckpt = str(tmp_path / f"ckpt-{uuid.uuid4().hex[:8]}")
    with _pytest.raises(Exception, match="crash after the landing"):
        start(ckpt)
    assert epochs == [0]
    start(ckpt)  # restart from the same checkpoint
    assert epochs == [0, 0, 1], f"uncommitted epoch must replay: {epochs}"

    post = pq.read_table(os.path.join(out, "events.parquet"))
    assert post.num_rows == n, "replayed landing must not duplicate rows"
    assert sorted(post["event_id"].to_pylist()) == sorted(
        ev["event_id"].to_pylist()
    ), "landed table must equal the full event set exactly once"
