"""Structured Streaming tests: availableNow windowed agg == batch twin;
stateful sessionization smoke (SURVEY §2.9 extension)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import t
from evolution_data_warehouse_spark.streaming.events import (
    run_available_now,
    stream_windowed_counts,
    windowed_counts,
)


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    # Stage the events parquet into a stream-source dir (file source
    # requires a directory it can list).
    src = str(tmp_path / "events_src")
    t(spark, sf_dir, "events").write.mode("overwrite").parquet(src)

    # Streaming needs raw nanos (it re-reads files); our staged copy is
    # already µs timestamps, so stream directly with the batch schema.
    stream = (
        spark.readStream.schema(t(spark, sf_dir, "events").schema)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = windowed_counts(stream)
    run_available_now(agg, "stream_test_out")
    streamed = spark.table("stream_test_out")

    batch = windowed_counts(t(spark, sf_dir, "events"))
    b = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    s = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in streamed.collect()
    }
    assert s == b and len(s) > 0


def test_stream_windowed_counts_from_nanos(spark, sf_dir, tmp_path):
    # The engine's readStream path must cope with TIMESTAMP(NANOS)
    # parquet via the long-schema + timestamp_micros conversion.
    import shutil, os

    src = str(tmp_path / "raw_events")
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", src)
    agg = stream_windowed_counts(spark, src)
    run_available_now(agg, "stream_nanos_out")
    out = spark.table("stream_nanos_out")
    assert out.count() > 0


def test_stateful_sessionize(spark, sf_dir, tmp_path):
    from evolution_data_warehouse_spark.streaming.events import (
        sessionize_stateful,
    )

    src = str(tmp_path / "events_state_src")
    events = t(spark, sf_dir, "events").limit(200)
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = sessionize_stateful(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_out")
    assert got.count() > 0
    # State totals must equal the plain batch aggregation.
    batch = events.groupBy("user_id").agg(F.count("*").alias("n"))
    bmap = {r.user_id: r.n for r in batch.collect()}
    gmap = {r.user_id: r.n_events for r in got.collect()}
    assert gmap == bmap


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    import shutil, os
    from evolution_data_warehouse_spark.streaming.events import (
        stream_dedup_events,
    )

    src = str(tmp_path / "dup_events")
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", src + "/a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src + "/b.parquet")  # dup batch
    dedup = stream_dedup_events(spark, src)
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_out")
    n_unique = t(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == n_unique  # the duplicated file adds no rows
    assert got.select("event_id").distinct().count() == n_unique
    # The streaming output, rolled up per type, must equal the
    # oracle-checked batch twin (stream_dedup_ingest) row for row —
    # the claim its docstring makes.
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.queries.streaming_ops import stream_dedup_ingest

    rolled = sorted(
        map(
            tuple,
            got.groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
            )
            .collect(),
        )
    )
    twin = sorted(map(tuple, stream_dedup_ingest(spark, sf_dir).collect()))
    assert rolled == twin


def test_stream_session_windows(spark, sf_dir, tmp_path):
    # Gap-based session windows on the REAL readStream path (stateful
    # session aggregation with a watermark), checked against the batch
    # twin — the streaming form of win_session_gap/session_window_counts.
    from evolution_data_warehouse_spark.streaming.events import (
        run_available_now,
        session_window_counts,
    )

    src = str(tmp_path / "events_sess_src")
    ev = t(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    run_available_now(session_window_counts(stream), "stream_sessions_out")
    streamed = spark.table("stream_sessions_out")

    batch = session_window_counts(ev)
    key = lambda r: (r.session_start, r.session_end, r.user_id, r.n_events)  # noqa: E731
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))
    assert streamed.count() > 0


def test_normalize_event_time_branches(spark):
    # Both source shapes must land on TIMESTAMP_LTZ with identical
    # epoch-µs: int64 nanos (declared-long schema readers) and
    # TIMESTAMP_NTZ (Spark 4.1.x native read of TIMESTAMP(NANOS)).
    from evolution_data_warehouse_spark.streaming.events import (
        normalize_event_time,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = 1_704_067_200_123_456_789  # 2024-01-01T00:00:00.123456789Z
    as_long = spark.createDataFrame([(nanos,)], "ts long")
    out_long = normalize_event_time(as_long)
    assert dict(out_long.dtypes)["ts"] == "timestamp"

    as_ntz = spark.sql(
        "SELECT make_timestamp_ntz(2024, 1, 1, 0, 0, 0.123456) AS ts"
    )
    assert dict(as_ntz.dtypes)["ts"] == "timestamp_ntz"
    out_ntz = normalize_event_time(as_ntz)
    assert dict(out_ntz.dtypes)["ts"] == "timestamp"

    us = lambda df: df.selectExpr("unix_micros(ts) AS us").first().us  # noqa: E731
    assert us(out_long) == us(out_ntz) == nanos // 1000

    # Already-LTZ input passes through untouched.
    assert normalize_event_time(out_ntz) is out_ntz


def test_session_window_batch(spark, sf_dir):
    from evolution_data_warehouse_spark.streaming.events import (
        session_window_counts,
    )

    ev = t(spark, sf_dir, "events")
    sessions = session_window_counts(ev)
    assert sessions.count() > 0
    # Conservation: session event counts sum to the total event count.
    total = sessions.agg(F.sum("n_events")).first()[0]
    assert total == ev.count()
    # Sessions per user never exceed that user's event count.
    per_user = sessions.groupBy("user_id").count()
    ev_user = ev.groupBy("user_id").count().withColumnRenamed("count", "n")
    j = per_user.join(ev_user, "user_id")
    assert j.filter(F.col("count") > F.col("n")).count() == 0


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.streaming.events import (
        stream_stream_attribution,
    )

    ev = t(spark, sf_dir, "events")
    p_dir, v_dir = str(tmp_path / "purchases"), str(tmp_path / "views")
    ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    ).write.mode("overwrite").parquet(p_dir)
    ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    ).write.mode("overwrite").parquet(v_dir)

    p_stream = spark.readStream.schema(
        "purchase_id long, user_id long, purchase_ts timestamp"
    ).parquet(p_dir)
    v_stream = spark.readStream.schema(
        "view_id long, user_id long, view_ts timestamp"
    ).parquet(v_dir)
    joined = stream_stream_attribution(p_stream, v_stream)
    assert joined.isStreaming

    q = (
        joined.writeStream.format("memory")
        .queryName("ss_attr_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ss_attr_probe")

    # Batch twin over the same inputs is the ground truth.
    expected = stream_stream_attribution(
        spark.read.parquet(p_dir), spark.read.parquet(v_dir)
    )
    assert got.count() == expected.count() > 0
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e


def test_events_stream_schema_matches_batch_reader(spark, sf_dir):
    # The declared streaming schema must track what THIS engine's batch
    # reader surfaces for TIMESTAMP(NANOS) parquet (LongType under an
    # honored nanosAsLong conf, TIMESTAMP_NTZ where that conf is inert),
    # so normalize_event_time's branches stay live across versions.
    from evolution_data_warehouse_spark.streaming.events import (
        EVENTS_SCHEMA,
        events_stream_schema,
    )

    src = f"{sf_dir}/events.parquet"
    schema = events_stream_schema(spark, src)
    observed = {f.name: f.dataType for f in spark.read.parquet(src).schema}
    declared = {f.name: f.dataType for f in schema.fields}
    assert declared["ts"] == observed["ts"]
    # everything except ts keeps the pinned legacy schema
    for f in EVENTS_SCHEMA.fields:
        if f.name != "ts":
            assert declared[f.name] == f.dataType

    # empty landing zone (no files yet): the fallback must match what
    # THIS engine will produce once data lands — NTZ on Spark >=4.1
    # (legacy nanosAsLong inert), int64 nanos on older readers
    import tempfile

    from pyspark.sql import types as T

    major, minor = (int(x) for x in spark.version.split(".")[:2])
    expected = T.TimestampNTZType() if (major, minor) >= (4, 1) else T.LongType()
    with tempfile.TemporaryDirectory() as d:
        assert events_stream_schema(spark, d)["ts"].dataType == expected


def test_stateful_transition_counts_match_batch_across_restarts(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.queries import REGISTRY
    from evolution_data_warehouse_spark.streaming.events import (
        transition_counts_stateful,
    )

    ev = t(spark, sf_dir, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_chunk(chunk_df, batch_tag):
        chunk_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            transition_counts_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .queryName(f"transitions_{batch_tag}")
            .start()
        )
        q.awaitTermination()

    # two separate availableNow runs over one checkpoint: the second
    # run's first transition per user must chain off state persisted by
    # the first run — exactly what a per-batch lead() would miss
    run_chunk(ev.filter(F.col("event_id") <= mid), "b1")
    run_chunk(ev.filter(F.col("event_id") > mid), "b2")

    streamed = (
        spark.read.parquet(out)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").alias("n_transitions"))
    )
    batch = REGISTRY["event_transition_matrix"].fn(spark, sf_dir).withColumnRenamed(
        "event_type", "prev_type"
    )
    s = {(r.prev_type, r.next_type): r.n_transitions for r in streamed.collect()}
    b = {(r.prev_type, r.next_type): r.n_transitions for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stateful_transitions_drop_late_rows_without_state_regression(
    spark, sf_dir, tmp_path
):
    from evolution_data_warehouse_spark.streaming.events import (
        transition_counts_stateful,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(rows, tag):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = (
            transition_counts_stateful(
                spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .queryName(f"late_{tag}")
            .start()
        )
        q.awaitTermination()

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    mk = lambda eid, sec, typ: (
        eid, t0 + datetime.timedelta(seconds=sec), 1, typ, 0.0, "{}",
    )
    # batch 1: view(10) -> click(20); state ends at click(20)
    run([mk(1, 10, "view"), mk(2, 20, "click")], "b1")
    # batch 2: a LATE row at sec 5 (before the stored position) plus an
    # on-time purchase at 30 — the late row must be dropped, giving
    # click->purchase, NOT click->signup->purchase
    run([mk(3, 5, "signup"), mk(4, 30, "purchase")], "b2")

    got = {
        (r.prev_type, r.next_type): r.n
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }


def test_incremental_upsert_latest_matches_batch_cdc(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.queries import REGISTRY
    from evolution_data_warehouse_spark.streaming.incremental import (
        incremental_upsert_latest,
        read_upsert_store,
    )

    ev = t(spark, sf_dir, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def drain(chunk):
        chunk.write.mode("append").parquet(src)
        incremental_upsert_latest(
            spark,
            src,
            store,
            ckpt,
            ev.schema,
            tombstone_pred=lambda df: F.col("event_type") == "error",
        )

    # two drains over one checkpoint: the second must merge against the
    # store, not rebuild from scratch
    drain(ev.filter(F.col("event_id") <= mid))
    drain(ev.filter(F.col("event_id") > mid))

    got = {
        r.user_id: (r.event_id, r.value)
        for r in read_upsert_store(spark, store).collect()
    }
    want = {
        r.user_id: (r.last_event_id, r.last_value)
        for r in REGISTRY["cdc_apply_log"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_upsert_tombstone_blocks_out_of_order_resurrection(spark, tmp_path):
    """A late, OLDER op for a tombstoned key must lose against the
    persisted tombstone marker — the key stays deleted. A genuinely
    NEWER op revives it. (ADVICE r5: without a persisted marker the
    old op would silently resurrect the deleted key.)"""
    import datetime

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.streaming.incremental import (
        incremental_upsert_latest,
        read_upsert_store,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"

    def drain(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        incremental_upsert_latest(
            spark,
            src,
            store,
            ckpt,
            schema,
            tombstone_pred=lambda df: F.col("event_type") == "error",
        )

    mk = lambda eid, sec, uid, typ: (
        eid, t0 + datetime.timedelta(seconds=sec), uid, typ, 1.0,
    )
    # batch 1: user 1 updated then tombstoned; user 2 live
    drain([mk(1, 10, 1, "view"), mk(2, 20, 1, "error"), mk(3, 10, 2, "view")])
    assert {r.user_id for r in read_upsert_store(spark, store).collect()} == {2}
    # batch 2: an OUT-OF-ORDER older op (sec 15 < tombstone's 20) for
    # user 1 — must NOT resurrect the key
    drain([mk(4, 15, 1, "click")])
    assert {r.user_id for r in read_upsert_store(spark, store).collect()} == {2}
    # batch 3: a NEWER op (sec 30) revives user 1
    drain([mk(5, 30, 1, "click")])
    got = {
        r.user_id: r.event_id for r in read_upsert_store(spark, store).collect()
    }
    assert got == {1: 5, 2: 3}


def test_session_store_read_failure_fails_the_drain(spark, tmp_path):
    """A session store that cannot be read fails the drain instead of
    being rebuilt from the new batch alone, and the sessions already
    published stay readable at their version."""
    import datetime
    from pathlib import Path

    from pyspark.errors import StreamingQueryException

    from evolution_data_warehouse_spark.streaming.incremental import (
        streaming_session_ingest,
    )
    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
        read_version,
    )

    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    schema = "user_id long, event_id long, ts timestamp"

    def land(user_id: int) -> None:
        row = (user_id, user_id, datetime.datetime(2024, 1, 1))
        spark.createDataFrame([row], schema).write.mode("append").parquet(src)

    land(1)
    land(2)
    assert streaming_session_ingest(spark, src, store, ckpt, schema) == 2
    v = current_version(spark, store)
    saved = {f: f.read_bytes() for f in Path(store).rglob("*.parquet")}
    for f in saved:
        f.write_bytes(b"not parquet")
    land(3)
    with pytest.raises(StreamingQueryException):
        streaming_session_ingest(spark, src, store, ckpt, schema)
    assert current_version(spark, store) == v

    for f, data in saved.items():
        f.write_bytes(data)
    got = sorted(r.user_id for r in read_version(spark, store, version=v).collect())
    assert got == [1, 2]


def test_incremental_append_bounded_batches(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.streaming.incremental import (
        incremental_append,
    )

    ev = t(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # an 8-file backlog
    ev.repartition(8).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_batches = incremental_append(
        spark, src, ev.schema, out, ckpt, max_files_per_trigger=2
    )
    # the backlog drained in bounded slices, not one giant batch ...
    assert n_batches >= 4
    # ... and nothing was lost or duplicated
    landed = spark.read.parquet(out)
    assert landed.count() == ev.count()
    assert landed.select(F.sum("event_id")).collect()[0][0] == \
        ev.select(F.sum("event_id")).collect()[0][0]


@pytest.mark.slow
def test_windowed_state_stays_bounded_over_soak(spark, tmp_path):
    """State-bound soak (r5 verdict item 7): drain an 8-file backlog in
    single-file micro-batches through a watermarked windowed aggregation
    and read the state-store row counts off the progress events. Event
    time advances 1 hour per batch with a 30-minute watermark over
    10-minute windows, so every batch closes the previous batch's
    windows: state must hover around one batch's worth of open windows,
    NOT accumulate all windows ever seen — the difference between a
    stream that runs forever and one that OOMs at 100x."""
    import datetime

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, event_type string, value double"
    n_batches = 8
    windows_per_batch = 6  # 6 distinct 10-min windows per hour of events
    stamped: set[str] = set()
    for b in range(n_batches):
        rows = [
            (
                b * 1000 + i,
                t0 + datetime.timedelta(hours=b, minutes=10 * (i % windows_per_batch)),
                ["view", "click"][i % 2],
                1.0,
            )
            for i in range(24)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # The file source orders micro-batches by file modification
        # time, and these 8 files land within milliseconds — stamp
        # strictly increasing mtimes so the drain follows event time
        # (as a real landing zone's arrival order would); otherwise the
        # watermark can jump ahead on a tie-scrambled order and drop
        # whole batches as late.
        import glob as _glob
        import os as _os

        for f in _glob.glob(f"{src}/part-*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
                stamped.add(f)

    from evolution_data_warehouse_spark.streaming.events import windowed_counts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "30 minutes")
    )
    q = (
        windowed_counts(stream, window="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    progress = [p for p in q.recentProgress if p["stateOperators"]]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    assert len(state_rows) >= 5, "soak must span >=5 micro-batches"
    # each batch contributes 6 (window, type) groups (event type is
    # correlated with the minute: views at :00/:20/:40, clicks at
    # :10/:30/:50); the watermark closes them one hour later
    per_batch_groups = windows_per_batch
    total_groups = n_batches * per_batch_groups
    # bound: open state never exceeds two batches' worth of groups
    # (current batch + the not-yet-expired tail of the previous one)
    assert max(state_rows) <= 2 * per_batch_groups, state_rows
    # and eviction really happened: total groups seen across the soak
    # is far larger than what's ever held at once — the no-monotone-
    # growth property that lets the stream run forever
    assert total_groups > 3 * max(state_rows)
    # rows evicted from state were EMITTED, not lost: every window
    # already below the final watermark (all but the last batch's
    # still-open tail) reached the sink exactly once
    emitted = spark.read.parquet(out)
    n_closed = emitted.select("window_start", "event_type").distinct().count()
    assert n_closed >= total_groups - per_batch_groups
    assert emitted.groupBy("window_start", "event_type").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_stream_trending_topk_matches_batch(spark, sf_dir, tmp_path):
    """The streaming side of stream_trending_topk: the stream maintains
    only the additive windowed counts (watermark-bounded state); the
    top-3 rank runs over the window-cardinality sink at read time and
    must equal the batch twin exactly."""
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries import REGISTRY

    src = str(tmp_path / "events_src")
    ev = t(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    counts = stream.groupBy(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("trend_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    streamed = (
        spark.table("trend_counts")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    key = lambda r: (r.window_start, r.rank, r.event_type, r.n_events)  # noqa: E731
    batch = REGISTRY["stream_trending_topk"].fn(spark, sf_dir)
    assert sorted(map(key, streamed.collect())) == sorted(
        map(key, batch.collect())
    )
    assert streamed.count() > 0


def test_sessionize_closed_emits_final_sessions_once(spark, tmp_path):
    """EventTimeTimeout sessionization: sessions are emitted exactly
    once, when closed (by an over-gap successor in-stream, or by the
    watermark crossing last_event + gap); the still-open tail session
    is withheld. The append-mode production twin of
    sessionize_stateful's per-batch updates."""
    import datetime
    import glob as _glob
    import os as _os

    from evolution_data_warehouse_spark.streaming.events import (
        sessionize_closed,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    mk = lambda eid, minute, uid: (  # noqa: E731
        eid, t0 + datetime.timedelta(minutes=minute), uid, "view",
    )
    batches = [
        [mk(1, 0, 1), mk(2, 10, 1), mk(3, 5, 2)],
        [mk(4, 60, 1)],   # >30min gap closes u1's first session
        [mk(5, 120, 2)],  # >30min gap closes u2's first session
    ]
    stamped: set[str] = set()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(f"{src}/part-*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
                stamped.add(f)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "5 minutes")
    )
    q = (
        sessionize_closed(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    ts = lambda minute: t0 + datetime.timedelta(minutes=minute)  # noqa: E731
    must_have = {
        (1, ts(0), ts(10), 2),   # closed by the over-gap event at :60
        (2, ts(5), ts(5), 1),    # closed by the over-gap event at :120
    }
    may_have = {
        # u1's :60 session — closed only if a final timeout batch runs
        (1, ts(60), ts(60), 1),
    }
    assert must_have <= got
    assert got <= must_have | may_have
    # u2's open tail (:120, timeout beyond the final watermark) is
    # withheld — append semantics never leak an unfinished session
    assert not any(u == 2 and s == ts(120) for u, s, _, _ in got)


def test_sessionize_closed_out_of_order_never_shrinks(spark, tmp_path):
    """An out-of-order event that is within the watermark but EARLIER
    than the stored session end must merge with min(start)/max(end) —
    the r6 ADVICE finding: the old `end = tm` branch moved session_end
    backwards, emitting an end that preceded contained events and
    shrinking the EventTimeTimeout."""
    import datetime
    import glob as _glob
    import os as _os

    from evolution_data_warehouse_spark.streaming.events import (
        sessionize_closed,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    mk = lambda eid, minute: (  # noqa: E731
        eid, t0 + datetime.timedelta(minutes=minute), 1, "view",
    )
    batches = [
        [mk(1, 0), mk(2, 10)],
        [mk(3, 7)],    # late but within the 5-min watermark (wm = :05)
        [mk(4, 60)],   # >30min gap separates a new interval
        # advances the watermark past :10 + gap so the first session's
        # closure is sealed and emitted DURING this batch (emission
        # waits for the watermark, not for an over-gap successor — a
        # late bridger inside the watermark could still have merged)
        [mk(5, 300)],
    ]
    stamped: set[str] = set()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(f"{src}/part-*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
                stamped.add(f)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "5 minutes")
    )
    q = (
        sessionize_closed(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ts = lambda minute: t0 + datetime.timedelta(minutes=minute)  # noqa: E731
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # the closed session spans :00-:10 with ALL THREE events — the late
    # :07 merged without dragging the end backwards
    assert (1, ts(0), ts(10), 3) in got


def test_sessionize_closed_stray_early_event_splits_sessions(spark, tmp_path):
    """A cross-batch straggler OLDER than session_start - gap must form
    its own session, not merge — the r7 ADVICE finding: the old
    `tm - end <= gap` branch admitted any event with tm <= end + gap
    (including tm < start - gap), and min(start, tm) then stretched the
    session across a silent gap longer than the sessionization gap."""
    import datetime
    import glob as _glob
    import os as _os

    from evolution_data_warehouse_spark.streaming.events import (
        sessionize_closed,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    mk = lambda eid, minute: (  # noqa: E731
        eid, t0 + datetime.timedelta(minutes=minute), 1, "view",
    )
    batches = [
        [mk(1, 100), mk(2, 110)],
        # 40min older than the stored session start, but inside the
        # 2-hour watermark, so it reaches the stateful operator
        [mk(3, 60)],
        [mk(4, 200)],  # >30min gap separates a new interval
        # two watermark-advancing batches: the 2h delay means the
        # :60 and :100-:110 seals (:90/:140) are passed only once the
        # max event time reaches :300 — the batch AFTER that observes
        # the advanced watermark and emits both, deterministically,
        # without relying on a trailing no-data timeout batch
        [mk(5, 300)],
        [mk(6, 430)],
    ]
    stamped: set[str] = set()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(f"{src}/part-*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
                stamped.add(f)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    q = (
        sessionize_closed(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ts = lambda minute: t0 + datetime.timedelta(minutes=minute)  # noqa: E731
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # the stray is its own closed single-event session; the stored
    # session keeps its true extent — NO (60, 110, 3) mega-session
    assert (1, ts(60), ts(60), 1) in got
    assert (1, ts(100), ts(110), 2) in got
    assert not any(s == ts(60) and e == ts(110) for _, s, e, _ in got)


def test_sessionize_closed_bridged_straggler_never_overlaps(spark, tmp_path):
    """The r8 review finding: a straggler older than the stored session
    must NOT be emitted as its own closed session while the watermark
    still admits a bridging event — batch 2's :60 straggler and batch
    3's :75 bridger belong to ONE session (:60-:110, 4 events) with the
    :100-:110 pair. Emitting (60,60,1) on arrival (the old
    successor-closes heuristic) would overlap the later merged output.
    Closure therefore waits for the watermark to pass end + gap."""
    import datetime
    import glob as _glob
    import os as _os

    from evolution_data_warehouse_spark.streaming.events import (
        sessionize_closed,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    mk = lambda eid, minute: (  # noqa: E731
        eid, t0 + datetime.timedelta(minutes=minute), 1, "view",
    )
    batches = [
        [mk(1, 100), mk(2, 110)],
        [mk(3, 60)],   # straggler: 40min before the stored start
        [mk(4, 75)],   # bridger: fuses :60 with :100-:110
        [mk(5, 300)],  # advances max event time
        [mk(6, 430)],  # observes the advanced watermark -> emits
    ]
    stamped: set[str] = set()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(f"{src}/part-*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
                stamped.add(f)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    q = (
        sessionize_closed(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ts = lambda minute: t0 + datetime.timedelta(minutes=minute)  # noqa: E731
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, ts(60), ts(110), 4) in got
    # no fragment of the bridged span was ever emitted separately
    assert not any(
        s >= ts(60) and e <= ts(110) and (s, e) != (ts(60), ts(110))
        for _, s, e, _ in got
    )


def test_stream_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """The Gopher curation gate runs INCREMENTALLY on a document feed
    (readStream + availableNow) and lands on exactly the batch twin's
    per-source counts — the continuous-ingest crawl shape."""
    from evolution_data_warehouse_spark.streaming.events import (
        quality_gate_counts,
        run_available_now,
    )

    docs = t(spark, sf_dir, "documents").select("source", "text")
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    run_available_now(quality_gate_counts(stream), "stream_gate_out")
    streamed = {
        r.source: (r.n_docs, r.n_gopher_pass)
        for r in spark.table("stream_gate_out").collect()
    }
    batch = {
        r.source: (r.n_docs, r.n_gopher_pass)
        for r in quality_gate_counts(docs).collect()
    }
    assert streamed == batch and len(streamed) > 0
    assert any(v[1] > 0 for v in streamed.values())


@pytest.mark.slow
def test_python_datasource_stream_exactly_once_across_restart(
    spark, tmp_path
):
    """The custom Python streaming source (sources/pydatasource.py)
    must deliver every row exactly once INCLUDING across a checkpoint
    restart that raises the range bound mid-stream — the offset
    contract (deterministic readBetweenOffsets replay) is what makes
    that possible."""
    from evolution_data_warehouse_spark.sources.pydatasource import (
        register_synth_source,
        synth_val,
    )

    register_synth_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(n):
        q = (
            spark.readStream.format("synthrange")
            .option("n", n)
            .option("batch_rows", 137)  # deliberately not a divisor
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def drain(n):
        """availableNow with a simple stream reader drains one
        prefetched batch per trigger — so every loop iteration here is
        a FULL checkpoint restart, which is exactly the resume path
        under test. Returns the number of restarts taken."""
        runs, prev = 0, -1
        while True:
            run(n)
            runs += 1
            cur = spark.read.parquet(out).count()
            assert cur > prev or cur == n, "restart made no progress"
            if cur == n:
                return runs
            prev = cur
            assert runs < 20, "stream failed to drain"

    # 137 is deliberately not a divisor of 300: the final batch is
    # short, and reaching exactly 300 proves the bound clamps
    restarts = drain(300)
    assert restarts > 1  # multi-batch: offsets really advanced
    first = spark.read.parquet(out).collect()
    assert sorted(r.row_id for r in first) == list(range(300))

    # raise the range bound and keep restarting from the same
    # checkpoint: ONLY rows 300..499 may arrive — no replays, no gaps
    drain(500)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.row_id for r in rows) == list(range(500))
    assert all(r.val == synth_val(r.row_id) for r in rows)
    assert all(r.part_id == r.row_id % 8 for r in rows)


@pytest.mark.slow
def test_python_datasource_stream_writer_epoch_commits(spark, tmp_path):
    """Streaming custom-sink leg: synth stream -> JsonlStreamWriter.
    Each micro-batch must land as one committed epoch manifest, and
    unioning ONLY manifest-listed files must reproduce every row
    exactly once — including across a checkpoint restart that extends
    the range (replayed-but-uncommitted epochs may leave orphan files;
    they must stay invisible)."""
    import json
    import os

    from evolution_data_warehouse_spark.sources.pydatasource import (
        read_epoch_manifests,
        register_jsonl_sink,
        register_synth_source,
        synth_val,
    )

    register_synth_source(spark)
    register_jsonl_sink(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)

    def run(n):
        q = (
            spark.readStream.format("synthrange")
            .option("n", n)
            .option("batch_rows", 137)
            .load()
            .writeStream.format("jsonlsink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def committed_rows():
        rows = []
        for man in read_epoch_manifests(out):
            for fname in man["files"]:
                with open(os.path.join(out, fname), encoding="utf-8") as fh:
                    rows.extend(json.loads(ln) for ln in fh)
        return rows

    for _ in range(20):
        run(300)
        if len(committed_rows()) == 300:
            break
    rows = committed_rows()
    ids = sorted(r["row_id"] for r in rows)
    assert ids == list(range(300))

    for _ in range(20):
        run(500)
        if len(committed_rows()) == 500:
            break
    rows = committed_rows()
    ids = sorted(r["row_id"] for r in rows)
    assert ids == list(range(500))  # exactly once, no replays
    assert all(r["val"] == synth_val(r["row_id"]) for r in rows)
    mans = read_epoch_manifests(out)
    assert len(mans) >= 2  # multiple committed epochs
    assert sum(m["n_rows"] for m in mans) == 500


def test_python_datasource_batch_writer_abort_leaves_no_visible_output(
    spark, tmp_path
):
    """Negative path of the two-phase commit: a task failure mid-write
    must (a) surface the error, (b) leave NO manifest (nothing is
    visible to a manifest-gated reader), (c) have abort() remove the
    already-published part files of the tasks that succeeded — and the
    None commit message of the failed task must not crash abort()
    (the bug the r11 code-review caught). A follow-up successful write
    to the same path must publish a manifest listing only its own
    files."""
    import os

    import pandas as pd  # noqa: F401
    import pytest as _pytest

    from evolution_data_warehouse_spark.sources.pydatasource import (
        MANIFEST_NAME,
        read_manifest,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    out = str(tmp_path / "abort_sink")
    os.makedirs(out, exist_ok=True)

    def boom(batches):
        for pdf in batches:
            if (pdf["doc_id"] >= 900).any():
                raise RuntimeError("injected task failure")
            yield pdf

    df = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .repartition(4)
        .mapInPandas(boom, "doc_id long")
    )
    with _pytest.raises(Exception, match="injected task failure"):
        df.write.format("jsonlsink").option("path", out).mode(
            "append"
        ).save()

    assert not os.path.exists(os.path.join(out, MANIFEST_NAME))
    published = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert published == []  # abort cleaned the successful tasks' files
    tmps = [f for f in os.listdir(out) if f.endswith(".tmp")]
    assert tmps == []  # failed attempts unlink their own mkstemp file

    # the path is reusable: a clean write commits only its own files
    ok = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    ok.repartition(2).write.format("jsonlsink").option("path", out).mode(
        "append"
    ).save()
    man = read_manifest(out)
    assert man["n_rows"] == 10
    for f in man["files"]:
        assert os.path.exists(os.path.join(out, f))


@pytest.mark.slow
def test_streaming_minhash_ingest_restart_and_incremental_append(
    spark, sf_dir, tmp_path
):
    """The streaming near-dup ingest contract (streaming/dedup_ingest):
    (1) a first drain verdicts exactly the staged batch against the
    persisted index, (2) a rerun over the same checkpoint processes 0
    rows and leaves the store byte-identical, (3) newly staged files
    drain incrementally (only the new docs are appended), and (4) the
    accumulated store equals the one-shot batch twin (batch_verdicts
    over everything) — streaming adds delivery semantics, never a
    different answer."""
    import os

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.streaming.dedup_ingest import (
        BANDS_SUBDIR,
        SIGS_SUBDIR,
        batch_verdicts,
        minhash_index_write,
        streaming_minhash_ingest,
    )

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    wave_a = docs.filter(F.col("doc_id") % 4 == 1)
    wave_b = docs.filter(F.col("doc_id") % 4 == 3)

    index = str(tmp_path / "index")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    minhash_index_write(corpus, index)
    schema = "doc_id long, text string"

    wave_a.coalesce(1).write.parquet(src, mode="append")
    n1 = streaming_minhash_ingest(spark, src, index, out, ckpt, schema)
    assert n1 == wave_a.count()
    got_a = {
        (r.doc_id, r.n_corpus_matches, r.max_eq)
        for r in spark.read.parquet(out).collect()
    }
    assert {r[0] for r in got_a} == {
        r.doc_id for r in wave_a.collect()
    }

    # restart: nothing new → 0 rows processed, store unchanged
    n2 = streaming_minhash_ingest(spark, src, index, out, ckpt, schema)
    assert n2 == 0
    assert {
        (r.doc_id, r.n_corpus_matches, r.max_eq)
        for r in spark.read.parquet(out).collect()
    } == got_a

    # incremental: stage wave B, only its docs are appended
    wave_b.coalesce(1).write.parquet(src, mode="append")
    n3 = streaming_minhash_ingest(spark, src, index, out, ckpt, schema)
    assert n3 == wave_b.count()
    final = {
        (r.doc_id, r.n_corpus_matches, r.max_eq)
        for r in spark.read.parquet(out).collect()
    }

    sigs = spark.read.parquet(os.path.join(index, SIGS_SUBDIR))
    bands = spark.read.parquet(os.path.join(index, BANDS_SUBDIR))
    expected = {
        (r.doc_id, r.n_corpus_matches, r.max_eq)
        for r in batch_verdicts(
            wave_a.unionByName(wave_b), sigs, bands
        ).collect()
    }
    assert final == expected


def test_lateness_audit_ledger_consistency(spark, sf_dir):
    """The watermark-loss ledger must balance: every late-batch row is
    either applied or dropped, window counts must sum to on-time input
    plus applied late rows, and the fixture must actually exercise
    loss (a zero-dropped run would vacuously pass the drop rule).
    Restart idempotence (a zero-input re-drain processes nothing) is
    asserted INSIDE the query between batch 2 and the flush — the
    query raising is the test failing."""
    from evolution_data_warehouse_spark.queries.streaming_ops import (
        stream_lateness_audit,
    )

    rows = stream_lateness_audit(spark, sf_dir).collect()
    audit = {
        r.event_type: r.n_events
        for r in rows
        if r.event_type.startswith("_audit_")
    }
    windows = [r for r in rows if not r.event_type.startswith("_audit_")]
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id")
    )
    n1 = ev.filter(F.col("event_id") % 3 != 0).count()
    n2 = ev.filter(F.col("event_id") % 3 == 0).count()
    assert audit["_audit_applied_late"] + audit["_audit_dropped_late"] == n2
    assert audit["_audit_dropped_late"] > 0  # loss actually exercised
    assert audit["_audit_applied_late"] > 0  # admission too
    assert sum(r.n_events for r in windows) == n1 + audit[
        "_audit_applied_late"
    ]
    assert all(r.window_start is not None for r in windows)


def test_stream_ivm_matches_batch_twin(spark, sf_dir):
    """The streaming IVM's drained store must equal the batch twin
    row-for-row (same splits, same signed algebra, same decimal
    discipline) — and idempotence of a zero-input drain is asserted
    inside the query (it raising is the failure)."""
    from evolution_data_warehouse_spark.queries.streaming_ops import (
        ivm_agg_retraction,
        stream_ivm_ingest,
    )

    got = {
        r.event_type: (r.n_events, r.sum_value)
        for r in stream_ivm_ingest(spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n_events, r.sum_value)
        for r in ivm_agg_retraction(spark, sf_dir).collect()
    }
    assert got == want


def test_lateness_policy_sweep_consistent_with_audit(spark, sf_dir):
    """The sweep's 48h row must agree with what the REAL checkpointed
    stream measured (stream_lateness_audit runs a 2-day watermark):
    same applied/dropped ledger — the closed-form rule and the
    deployed stream cannot diverge. Loss must be monotone
    non-increasing in the delay."""
    from evolution_data_warehouse_spark.queries.streaming_ops import (
        stream_lateness_audit,
        stream_lateness_policy_sweep,
    )

    sweep = {
        r.delay_hours: r
        for r in stream_lateness_policy_sweep(spark, sf_dir).collect()
    }
    assert set(sweep) == {6, 24, 48, 168}
    audit = {
        r.event_type: r.n_events
        for r in stream_lateness_audit(spark, sf_dir).collect()
        if r.event_type.startswith("_audit_")
    }
    assert sweep[48].n_applied_late == audit["_audit_applied_late"]
    assert sweep[48].n_dropped_late == audit["_audit_dropped_late"]
    losses = [sweep[h].loss_ppm for h in (6, 24, 48, 168)]
    assert losses == sorted(losses, reverse=True)
