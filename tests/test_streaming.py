"""Streaming ≡ batch equivalence: replay the events table as a bounded
file stream (availableNow) and assert the windowed aggregations match the
batch results the DuckDB oracle already verified."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.sources.readers import read_table
from udacity_datalake_spark_spark.streaming.windows import (
    read_parquet_stream,
    run_available_now,
    session_window_agg,
    stream_dedup,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Materialize events as a multi-file parquet directory (the stream
    source shape), read through read_table with its declared schema."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    read_table(spark, sf_dir, "events").repartition(4).write.parquet(path)
    return path


def _batch_schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def _as_sorted_rows(df, cols):
    return sorted(tuple(str(x) for x in r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark, events_dir):
    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema, max_files_per_trigger=1)
    streamed = run_available_now(tumbling_window_agg(stream), "t_tumbling")
    batch = tumbling_window_agg(spark.read.parquet(events_dir))
    cols = ["window_start", "window_end", "event_type", "n", "sum_value"]
    assert _as_sorted_rows(streamed, cols) == _as_sorted_rows(batch, cols)


def test_streaming_session_equals_batch(spark, events_dir):
    # single micro-batch: with per-file triggers the unsorted files would
    # make the watermark drop genuinely-late rows (correct streaming
    # semantics, proven separately in test_watermark_drops_late_rows)
    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema)
    streamed = run_available_now(session_window_agg(stream), "t_session")
    batch = session_window_agg(spark.read.parquet(events_dir))
    cols = ["session_start", "session_end", "user_id", "n_events"]
    assert _as_sorted_rows(streamed, cols) == _as_sorted_rows(batch, cols)


def test_streaming_dedup_bounded_state(spark, events_dir):
    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema)
    deduped = run_available_now(
        stream_dedup(stream, ["user_id", "event_type"]), "t_dedup", output_mode="append"
    )
    # one survivor per key; all keys present
    batch_keys = (
        spark.read.parquet(events_dir).select("user_id", "event_type").distinct().count()
    )
    counts = deduped.groupBy("user_id", "event_type").count()
    assert counts.where(F.col("count") > 1).count() == 0
    assert counts.count() == batch_keys


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: a row older than (max event time - watermark)
    arriving in a later micro-batch is dropped from its window."""
    import os
    import time as _time

    import pandas as pd

    d = str(tmp_path / "late_events")
    os.makedirs(d)
    schema = "ts timestamp, user_id long, event_type string, value double"

    def write_file(name, rows, mtime):
        before = set(os.listdir(d)) if os.listdir(d) else set()
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "event_type", "value"])
        sub = spark.createDataFrame(pdf, schema=schema)
        sub.coalesce(1).write.mode("append").parquet(d)
        for f in set(os.listdir(d)) - before:  # only the just-written files
            os.utime(os.path.join(d, f), (mtime, mtime))

    t0 = pd.Timestamp("2024-06-01 10:00:00")
    base = _time.time()
    # batch 1: rows at 10:00 and 11:40 → watermark advances to 11:10, which
    # passes the END of the [10:00, 11:00) window
    write_file(
        "f1", [(t0, 1, "a", 1.0), (t0 + pd.Timedelta("100min"), 1, "a", 1.0)], base - 200
    )
    # batch 2: spacer — state eviction runs at batch end, so the [10:00,11:00)
    # window is finalized (n=1) during this batch under watermark 11:10
    write_file("fs", [(t0 + pd.Timedelta("2h"), 1, "a", 1.0)], base - 100)
    # batch 3: a LATE row at 10:05 — its window was already finalized →
    # dropped; plus a 13:00 row that advances the watermark past [11:00,12:00)
    write_file(
        "f2",
        [(t0 + pd.Timedelta("5min"), 1, "a", 1.0), (t0 + pd.Timedelta("3h"), 1, "a", 1.0)],
        base,
    )

    stream = read_parquet_stream(spark, d, spark.read.parquet(d).schema, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream, width="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        str(r.window_start): r.n for r in spark.table("t_late").collect()
    }
    # the 10:00 window was finalized with ONE row — the late 10:05 arrival
    # was dropped (watermark had passed its window end), not merged
    assert out.get("2024-06-01 10:00:00") == 1, out
    # the 11:40 row's window was closed by the 13:00 arrival in batch 2
    assert out.get("2024-06-01 11:00:00") == 1, out


def test_stateful_user_totals_equals_batch(spark, events_dir):
    """applyInPandasWithState: the final per-user emission must equal the
    batch groupBy — state carried across micro-batches."""
    from udacity_datalake_spark_spark.streaming.stateful import stateful_user_totals

    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema, max_files_per_trigger=1)
    emitted = run_available_now(stateful_user_totals(stream), "t_stateful", output_mode="update")
    # update mode appends one row per (user, batch); the final state is the
    # row with the highest n per user
    final = {
        r.user_id: (r.n, r.sum_value)
        for r in emitted.orderBy("user_id", "n").collect()
    }
    batch = {
        r.user_id: (r.n, r.sum_value)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, sv) in batch.items():
        fn, fsv = final[uid]
        assert fn == n, (uid, fn, n)
        assert abs(fsv - sv) < 1e-6 * max(1.0, abs(sv)), (uid, fsv, sv)


def test_foreach_batch_parquet_sink(spark, events_dir, tmp_path):
    """foreachBatch drains the stream into the same parquet layout the
    batch writer produces; row set equals the source."""
    from udacity_datalake_spark_spark.streaming.sinks import foreach_batch_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema, max_files_per_trigger=2)
    q = foreach_batch_parquet(stream, out, ckpt)
    q.awaitTermination()
    sunk = spark.read.parquet(out)
    src = spark.read.parquet(events_dir)
    cols = sorted(src.columns)
    assert _as_sorted_rows(sunk, cols) == _as_sorted_rows(src, cols)


def test_rate_source_produces_rows(spark):
    """rate source smoke: schema (timestamp, value) and monotone values."""
    import time as _time

    from udacity_datalake_spark_spark.streaming.windows import read_rate_stream

    r = read_rate_stream(spark, rows_per_second=50, num_partitions=2)
    q = r.writeStream.format("memory").queryName("t_rate").outputMode("append").start()
    _time.sleep(3)
    q.stop()
    q.awaitTermination()
    rows = spark.table("t_rate").collect()
    assert rows and sorted(r.columns) == ["timestamp", "value"]
    vals = sorted(r_.value for r_ in rows)
    assert vals == list(range(vals[0], vals[0] + len(vals)))  # gapless


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """The q71 interval join run as a watermarked stream-stream join over
    two filtered streams of the same source equals the batch result."""
    from udacity_datalake_spark_spark.operators.joins import interval_join

    def sides(df):
        clicks = df.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        errors = df.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    schema = _batch_schema(spark, events_dir)
    # single micro-batch so no genuinely-late row is dropped by the
    # watermark (late-drop semantics proven in test_watermark_drops_late_rows)
    s_clicks, s_errors = sides(read_parquet_stream(spark, events_dir, schema))
    streamed = run_available_now(
        interval_join(
            s_clicks, s_errors, "c_user", "e_user", "click_ts", "error_ts", "10 minutes"
        ),
        "t_interval_join",
        output_mode="append",
    )
    b_clicks, b_errors = sides(spark.read.parquet(events_dir))
    batch = interval_join(
        b_clicks, b_errors, "c_user", "e_user", "click_ts", "error_ts", "10 minutes"
    )
    cols = ["click_id", "error_id", "c_user", "click_ts", "error_ts"]
    assert _as_sorted_rows(streamed, cols) == _as_sorted_rows(batch, cols)
    assert streamed.count() > 0


def test_stream_static_join_equals_batch(spark, sf_dir, events_dir):
    """q104: stream-static enrichment must produce exactly the batch
    result once the bounded stream drains (availableNow)."""
    from udacity_datalake_spark_spark.streaming.windows import stream_static_enrich

    dim = read_table(spark, sf_dir, "customer")
    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema, max_files_per_trigger=2)
    streamed = run_available_now(stream_static_enrich(stream, dim), "t_stream_static")
    batch = stream_static_enrich(spark.read.parquet(events_dir), dim)
    cols = ["window_start", "window_end", "c_mktsegment", "n", "sum_value"]
    assert _as_sorted_rows(streamed, cols) == _as_sorted_rows(batch, cols)


def test_stream_stream_left_outer_interval_join_equals_batch(spark, events_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: clicks with no error
    within 10 minutes are null-extended once the watermark passes their
    horizon.  The source is split into time-ordered files consumed one
    per trigger, so the watermark advances monotonically between
    micro-batches — outer results need a LATER batch to be emitted
    (state still held when a bounded stream terminates is discarded, by
    Spark's stream-stream outer-join semantics)."""
    from udacity_datalake_spark_spark.operators.joins import interval_join
    from udacity_datalake_spark_spark.streaming.windows import read_parquet_stream

    ordered_dir = str(tmp_path / "events_by_time")
    src = spark.read.parquet(events_dir)
    src.repartitionByRange(6, "ts").sortWithinPartitions("ts").write.parquet(ordered_dir)
    # the file source orders batches by modification time — make it match
    # range order (part-00000 = earliest time range) so the watermark
    # advances monotonically
    import os
    import time as _time

    base = _time.time() - 600
    for i, f in enumerate(sorted(os.listdir(ordered_dir))):
        if f.startswith("part-"):
            os.utime(os.path.join(ordered_dir, f), (base + i, base + i))

    def sides(df):
        clicks = df.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        errors = df.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    schema = spark.read.parquet(ordered_dir).schema
    s_clicks, s_errors = sides(
        read_parquet_stream(spark, ordered_dir, schema, max_files_per_trigger=1)
    )
    streamed = run_available_now(
        interval_join(
            s_clicks, s_errors, "c_user", "e_user", "click_ts", "error_ts",
            "10 minutes", how="left",
        ),
        "t_interval_join_left",
        output_mode="append",
    )
    b_clicks, b_errors = sides(spark.read.parquet(ordered_dir))
    batch = interval_join(
        b_clicks, b_errors, "c_user", "e_user", "click_ts", "error_ts",
        "10 minutes", how="left",
    )
    cols = ["click_id", "error_id", "c_user", "click_ts", "error_ts"]
    got, want = set(_as_sorted_rows(streamed, cols)), set(_as_sorted_rows(batch, cols))
    # 1) never a spurious row
    assert got <= want
    # 2) matched pairs emit batch-by-batch — all must be present (the
    #    time-ordered source means no error row arrives beyond-watermark)
    matched = set(_as_sorted_rows(batch.where(F.col("error_id").isNotNull()), cols))
    assert matched <= got
    # 3) left-outer property: unmatched clicks from drained regions WERE
    #    null-extended (non-empty), and every one the batch join agrees on
    nulls_got = {r for r in got if r[1] == "None"}
    assert nulls_got and nulls_got <= want


def test_streaming_lateness_audit_equals_batch(spark, sf_dir, tmp_path):
    """q271's lateness audit from a TRUE Structured Streaming run: events
    replayed one arrival-day per micro-batch (per-day files,
    maxFilesPerTrigger=1), the event-time high-water mark carried across
    batches in applyInPandasWithState state — the summed per-batch
    emissions must reproduce the batch query's numbers exactly."""
    import math
    import os
    import shutil

    from udacity_datalake_spark_spark.plans import QUERIES
    from udacity_datalake_spark_spark.streaming.stateful import streaming_lateness_audit

    e = read_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    days = sorted(
        r[0] for r in e.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    stream_dir = tmp_path / "bydays"
    stream_dir.mkdir()
    base = 1_700_000_000
    for i, d in enumerate(days):
        tmp_out = str(tmp_path / f"__day{i}")
        e.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.parquet(tmp_out)
        part = next(p for p in os.listdir(tmp_out) if p.endswith(".parquet"))
        dst = stream_dir / f"{i:04d}.parquet"
        shutil.move(os.path.join(tmp_out, part), dst)
        os.utime(dst, (base + i, base + i))  # oldest-first source order = day order

    schema = e.schema
    stream = read_parquet_stream(spark, str(stream_dir), schema, max_files_per_trigger=1)
    emitted = run_available_now(
        streaming_lateness_audit(stream), "t_lateness", output_mode="append"
    )
    got = {
        r.event_type: (
            r.n,
            r.late,
            round(r.late / r.n, 6),
            math.floor(r.maxlat / 60_000_000),
        )
        for r in emitted.groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n"),
            F.sum("n_late_1h").alias("late"),
            F.max("max_lateness_us").alias("maxlat"),
        )
        .collect()
    }
    want = {
        r.event_type: (r.n_events, r.n_late_1h, r.late_1h_share, r.max_lateness_minutes)
        for r in QUERIES["q271_late_event_rate"](spark, sf_dir).collect()
    }
    assert got == want
    assert sum(v[1] for v in want.values()) > 0, "fixture should contain late events"


def test_streaming_lateness_state_survives_restart(spark, sf_dir, tmp_path):
    """Durability: the lateness watermark state must persist across two
    SEPARATE availableNow runs sharing one checkpoint — days arriving
    after a restart are audited against the watermark the FIRST run
    advanced, and already-processed files are not replayed.  Combined
    emissions equal the single-run batch numbers exactly."""
    import math
    import os
    import shutil

    from udacity_datalake_spark_spark.plans import QUERIES
    from udacity_datalake_spark_spark.streaming.stateful import streaming_lateness_audit
    from udacity_datalake_spark_spark.streaming.windows import (
        run_available_now_checkpointed,
    )

    e = read_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    days = sorted(
        r[0] for r in e.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 4, "need several days to split across restarts"
    stream_dir = tmp_path / "bydays"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = 1_700_000_000

    def land(i, d):
        tmp_out = str(tmp_path / f"__day{i}")
        e.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.parquet(tmp_out)
        part = next(p for p in os.listdir(tmp_out) if p.endswith(".parquet"))
        dst = stream_dir / f"{i:04d}.parquet"
        shutil.move(os.path.join(tmp_out, part), dst)
        os.utime(dst, (base + i, base + i))

    half = len(days) // 2
    for i, d in enumerate(days[:half]):
        land(i, d)
    schema = e.schema
    stream = read_parquet_stream(spark, str(stream_dir), schema, max_files_per_trigger=1)
    run1 = run_available_now_checkpointed(
        streaming_lateness_audit(stream), str(tmp_path / "out1"), ckpt
    ).collect()

    # "restart": new query object, same checkpoint, later days landed
    for i, d in enumerate(days[half:], start=half):
        land(i, d)
    stream2 = read_parquet_stream(spark, str(stream_dir), schema, max_files_per_trigger=1)
    run2 = run_available_now_checkpointed(
        streaming_lateness_audit(stream2), str(tmp_path / "out2"), ckpt
    ).collect()

    n_run1 = sum(r.n_events for r in run1)
    n_run2 = sum(r.n_events for r in run2)
    assert n_run1 > 0 and n_run2 > 0, "both runs must process events"

    agg: dict = {}
    for r in list(run1) + list(run2):
        n, late, mx = agg.get(r.event_type, (0, 0, 0))
        agg[r.event_type] = (
            n + r.n_events,
            late + r.n_late_1h,
            max(mx, r.max_lateness_us),
        )
    got = {
        t: (n, late, round(late / n, 6), math.floor(mx / 60_000_000))
        for t, (n, late, mx) in agg.items()
    }
    want = {
        r.event_type: (r.n_events, r.n_late_1h, r.late_1h_share, r.max_lateness_minutes)
        for r in QUERIES["q271_late_event_rate"](spark, sf_dir).collect()
    }
    assert got == want


def test_epoch_keyed_sink_replay_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once sink: a replayed micro-batch (crash between the
    parquet write and the checkpoint commit → Structured Streaming
    re-runs the SAME epoch id) must not double rows.  Simulated by
    invoking the foreachBatch callback twice with one epoch id — the
    second write overwrites the first's directory — and once more under
    a new epoch id to prove distinct epochs still accumulate."""
    from udacity_datalake_spark_spark.streaming.sinks import (
        epoch_keyed_batch_writer,
        read_epoch_keyed,
    )

    out = str(tmp_path / "sink")
    batch = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "event_type")
        .limit(100)
    )
    n = batch.count()
    write_batch = epoch_keyed_batch_writer(out)
    write_batch(batch, 0)
    write_batch(batch, 0)  # the replay
    got = read_epoch_keyed(spark, out)
    assert got.count() == n, "replayed epoch must overwrite, not append"
    assert got.columns == ["event_id", "event_type"], "epoch dir key must not leak"

    write_batch(batch, 1)  # a genuinely new epoch appends
    assert read_epoch_keyed(spark, out).count() == 2 * n


def test_streaming_admission_caps_equals_batch(spark, sf_dir, tmp_path):
    """q318's admission quota from a TRUE stateful stream: events
    replayed one arrival-day per micro-batch; the per-(user, day)
    admitted counter persists in state, and the summed emissions must
    reproduce the batch query's per-type admitted/dropped/throttled
    numbers exactly (a (user, hour) key never spans days, so the
    replayed admission set is bit-identical)."""
    import os
    import shutil

    from udacity_datalake_spark_spark.plans import QUERIES
    from udacity_datalake_spark_spark.streaming.stateful import streaming_admission_caps

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "ts"
    )
    days = sorted(
        r[0] for r in e.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    stream_dir = tmp_path / "bydays"
    stream_dir.mkdir()
    base = 1_700_000_000
    for i, d in enumerate(days):
        tmp_out = str(tmp_path / f"__day{i}")
        e.where(F.to_date("ts") == F.lit(d)).coalesce(1).write.parquet(tmp_out)
        part = next(p for p in os.listdir(tmp_out) if p.endswith(".parquet"))
        dst = stream_dir / f"{i:04d}.parquet"
        shutil.move(os.path.join(tmp_out, part), dst)
        os.utime(dst, (base + i, base + i))

    stream = read_parquet_stream(
        spark, str(stream_dir), e.schema, max_files_per_trigger=1
    )
    emitted = run_available_now(
        streaming_admission_caps(stream), "t_admission", output_mode="append"
    )
    got = {
        r.event_type: (r.n, r.adm, r.drop, r.thr)
        for r in emitted.groupBy("event_type")
        .agg(
            (F.sum("n_admitted") + F.sum("n_dropped")).alias("n"),
            F.sum("n_admitted").alias("adm"),
            F.sum("n_dropped").alias("drop"),
            F.count_distinct(
                F.when(F.col("n_dropped") > 0, F.col("user_id"))
            ).alias("thr"),
        )
        .collect()
    }
    want = {
        r.event_type: (r.n_events, r.n_admitted, r.n_dropped, r.n_throttled_users)
        for r in QUERIES["q318_admission_caps"](spark, sf_dir).collect()
    }
    assert got == want
    assert sum(v[2] for v in want.values()) > 0, "fixture should throttle someone"


def test_custom_datasource_stream_equals_batch_and_resumes(spark, tmp_path):
    """Custom Python DataSource streaming reader: an availableNow drain
    must produce exactly the batch reader's rows, and a SECOND run on
    the same checkpoint with a longer horizon must emit only the days
    beyond the committed offset (the queue-wrapper resume contract)."""
    from udacity_datalake_spark_spark.sources.pyds import EVENTS_PER_DAY, register
    from udacity_datalake_spark_spark.streaming.windows import (
        run_available_now_checkpointed,
    )

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    run1 = run_available_now_checkpointed(
        spark.readStream.format("synthevents").option("n_days", "2").load(),
        str(tmp_path / "out1"),
        ckpt,
    )
    batch2 = spark.read.format("synthevents").option("n_days", "2").load()
    assert run1.count() == batch2.count() == 2 * EVENTS_PER_DAY
    assert sorted(r.day for r in run1.select("day").distinct().collect()) == [0, 1]
    assert {r.event_id for r in run1.collect()} == {
        r.event_id for r in batch2.collect()
    }

    # "restart": same checkpoint, horizon extended to 4 days — only the
    # uncommitted days 2 and 3 may be emitted
    run2 = run_available_now_checkpointed(
        spark.readStream.format("synthevents").option("n_days", "4").load(),
        str(tmp_path / "out2"),
        ckpt,
    )
    assert run2.count() == 2 * EVENTS_PER_DAY
    assert sorted(r.day for r in run2.select("day").distinct().collect()) == [2, 3]


def test_streaming_m4_downsample_equals_batch(spark, events_dir):
    """q372's M4 stats (min/max/first/last per window) must stream:
    min_by/max_by over the event-time total order are algebraic, so the
    windowed state stays bounded and the availableNow replay reproduces
    the batch frame exactly."""
    from udacity_datalake_spark_spark.streaming.windows import m4_window_agg

    schema = _batch_schema(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, schema)
    streamed = run_available_now(m4_window_agg(stream), "t_m4")
    batch = m4_window_agg(spark.read.parquet(events_dir))
    cols = ["window_start", "window_end", "n_points", "v_min", "v_max", "v_first", "v_last"]
    assert _as_sorted_rows(streamed, cols) == _as_sorted_rows(batch, cols)


def test_stream_crash_mid_batch_exactly_once(spark, tmp_path):
    """Streaming failure-semantics parity with the batch writer story
    (round-8 VERDICT #5, the companion of tests/test_writer_retry.py):
    the sink callback dies AFTER writing partial epoch output but BEFORE
    the epoch's offsets commit; a restart from the same checkpoint must
    replay the epoch under the SAME id and the epoch-keyed overwrite must
    repair the partial directory — final table state exactly-once, not
    at-least-once.

    Contract under test: Structured Streaming writes the batch's offset
    range to the checkpoint WAL before invoking foreachBatch and commits
    it only after the callback returns, so a mid-callback crash replays
    the identical (id, offset-range) pair on restart; sinks.
    epoch_keyed_batch_writer turns that replay into an idempotent
    directory overwrite."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from udacity_datalake_spark_spark.sources.pyds import EVENTS_PER_DAY, register
    from udacity_datalake_spark_spark.streaming.sinks import (
        epoch_keyed_batch_writer,
        read_epoch_keyed,
    )

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    marker = tmp_path / "crash_fired"
    inner = epoch_keyed_batch_writer(out)

    def poisoned(df, epoch_id):
        if not marker.exists():
            # write a PARTIAL epoch directory (half the rows), then die
            # before returning — the checkpoint never commits this epoch
            df.limit(EVENTS_PER_DAY // 2).write.mode("overwrite").parquet(
                f"{out}/epoch={epoch_id}"
            )
            marker.write_text("fired")
            raise RuntimeError("injected mid-batch sink crash")
        inner(df, epoch_id)

    def start(n_days):
        return (
            spark.readStream.format("synthevents")
            .option("n_days", str(n_days))
            .load()
            .writeStream.foreachBatch(poisoned)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start(2)
    with pytest.raises(StreamingQueryException):
        q1.awaitTermination()
    assert marker.exists(), "injected crash never fired — scenario vacuous"
    # partial output really is on disk (the failure left a torn epoch)
    torn = read_epoch_keyed(spark, out).count()
    assert 0 < torn < 2 * EVENTS_PER_DAY, f"expected a torn epoch, saw {torn} rows"

    # restart from the same checkpoint: the torn epoch replays under its
    # original id and overwrites itself; the drain then completes
    q2 = start(2)
    q2.awaitTermination()

    got = read_epoch_keyed(spark, out)
    batch = spark.read.format("synthevents").option("n_days", "2").load()
    n = batch.count()
    assert got.count() == n == 2 * EVENTS_PER_DAY, "exactly-once violated (dup/hole)"
    assert got.select("event_id").distinct().count() == n, "duplicate event_ids"
    assert {r.event_id for r in got.collect()} == {r.event_id for r in batch.collect()}
