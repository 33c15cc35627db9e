"""Streaming correctness: run each streaming operator over a closed
file source (availableNow trigger) and compare against the batch
recomputation — the only trustworthy oracle for streaming semantics
(SURVEY §7.4 risk 5)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.sources.readers import load_table
from fintech_lakehouse_spark.streaming import (
    dedup_events_stream,
    foreach_batch_upsert,
    read_events_stream,
    sessionize_stream,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage the events table as a landing directory (2 files so the
    stream sees multiple source splits)."""
    path = tmp_path_factory.mktemp("events_landing")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch.repartition(2).write.mode("overwrite").parquet(str(path / "data"))
    return str(path / "data")


def _run_to_memory(spark, stream_df, name: str, mode: str = "complete"):
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    return spark.table(name)


def _norm(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, windowed_event_counts(stream), "windowed_counts"
    )
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _norm(got, cols) == _norm(expected, cols)


def test_sessionize_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(spark, sessionize_stream(stream), "sessions_stream")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    expected = (
        batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _norm(got, cols) == _norm(expected, cols)


def test_streaming_dedup(spark, tmp_path):
    """Duplicate event_ids across files collapse to one row each."""
    base = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    landing = str(tmp_path / "dup_landing")
    base.write.mode("overwrite").parquet(landing)
    base.write.mode("append").parquet(landing)  # exact duplicates
    stream = read_events_stream(spark, landing)
    got = _run_to_memory(
        spark, dedup_events_stream(stream), "dedup_stream", mode="append"
    )
    assert got.count() == 50
    assert got.select("event_id").distinct().count() == 50


def test_foreach_batch_upsert_sink(spark, events_dir, tmp_path):
    """Stream → foreachBatch MERGE sink: lake table ends up with one
    row per event_id; replaying the stream is idempotent."""
    target = str(tmp_path / "events_lake")
    for _ in range(2):  # second run replays the same data → idempotent
        stream = read_events_stream(spark, events_dir)
        query = (
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(target, merge_keys=["event_id"])
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{_}"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
    lake = spark.read.parquet(target)
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    assert lake.count() == batch.count()
    assert lake.select("event_id").distinct().count() == batch.count()


def test_stateful_user_totals_state_persists(spark, events_dir):
    """applyInPandasWithState: state must accumulate ACROSS
    micro-batches (maxFilesPerTrigger=1 over 2 files → 2 batches);
    the final per-user totals must equal the batch aggregate."""
    from fintech_lakehouse_spark.streaming import stateful_user_totals

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    got = _run_to_memory(
        spark, stateful_user_totals(stream), "stateful_totals", mode="append"
    )
    # Last emitted row per user carries the lifetime totals.
    final = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id")
                .orderBy(F.col("events_seen").desc())
            ),
        )
        .filter("_rn = 1")
        .select("user_id", "events_seen", "total_value")
    )
    batch = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events_seen"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    cols = ["user_id", "events_seen", "total_value"]
    assert _norm(final, cols) == _norm(batch, cols)
    # more than one emission per user proves multi-batch state updates
    assert got.count() > batch.count()


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy (SURVEY §7.4 risk 5): an event older than
    watermark behind the stream's max ts must NOT reopen a finalized
    window in append mode."""
    from pyspark.sql.types import Row
    import datetime as dt

    landing = str(tmp_path / "late_landing")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows, mode):
        spark.createDataFrame(
            [Row(event_id=i, ts=base + dt.timedelta(minutes=m), user_id=1,
                 event_type="click", value=1.0, props="{}")
             for i, m in rows],
            schema="event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string",
        ).coalesce(1).write.mode(mode).parquet(landing)

    ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_sink")

    def run_once():
        stream = read_events_stream(spark, landing)
        agg = windowed_event_counts(stream, watermark="10 minutes")
        q = (agg.writeStream.format("parquet").option("path", sink)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # run 1: events at minute 5 and minute 600 → watermark advances to
    # ~9:50, finalizing and emitting the hour-0 window.
    mk([(1, 5), (2, 600)], "overwrite")
    run_once()
    # run 2 (same checkpoint → watermark persisted): a late event back
    # in hour 0 arrives; it must be dropped, not re-emitted.
    mk([(3, 7)], "append")
    run_once()
    out = {
        r["window_start"]: r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert out.get(base) == 1  # only the on-time event; late one dropped


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Stream-stream interval join emits exactly the (purchase, click)
    pairs the batch interval join produces over the closed input."""
    from fintech_lakehouse_spark.streaming import purchase_click_stream_join

    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        spark, purchase_click_stream_join(stream), "ss_join", mode="append"
    )
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    p = events.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS pu", "ts AS p_ts"
    )
    c = events.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id AS cu", "ts AS c_ts"
    )
    expected = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    got_pairs = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    exp_pairs = {(r["purchase_id"], r["click_id"]) for r in expected.collect()}
    assert got_pairs == exp_pairs
    assert len(got_pairs) > 0


def test_sessionize_with_timeout_matches_batch(spark, tmp_path):
    """Event-time-timeout sessionization: once the watermark passes a
    user's last event + gap, the session closes and emits. A far-future
    sentinel event advances the watermark so every real session closes;
    the emitted sessions must equal the batch session_window result."""
    import datetime as dt

    from fintech_lakehouse_spark.streaming import sessionize_with_timeout

    landing = str(tmp_path / "sess_landing")
    base = load_table(spark, "/root/testdata/sf0.001", "events").limit(400)
    sentinel_ts = dt.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [(999_999_999, sentinel_ts, -1, "flush", 0.0, "{}")],
        schema="event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string",
    )
    base.select(*sentinel.columns).unionByName(sentinel).coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)

    stream = read_events_stream(spark, landing)
    got = _run_to_memory(
        spark,
        sessionize_with_timeout(stream, gap_minutes=30),
        "sessions_timeout",
        mode="append",
    ).filter("user_id >= 0")
    expected = (
        base.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _norm(got, cols) == _norm(expected, cols)
    assert got.count() > 0


def test_session_gap_boundary_semantics(spark, tmp_path):
    """An event EXACTLY ``gap`` after the last one EXTENDS the session.

    Pinned empirically (Spark 4.1): session_window's merge condition is
    inclusive at the boundary — two events 30:00.000000 apart form ONE
    session with end = second_event + gap. sessionize_with_timeout's
    ``t <= last + gap`` matches. Regression-pinned because this
    boundary was misdiagnosed externally as exclusive (ADVICE r2);
    flipping it to strict `<` would silently diverge from the batch
    twin on exact-boundary timestamps."""
    import datetime as dt

    from fintech_lakehouse_spark.streaming import sessionize_with_timeout

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        # exactly gap later: same session per session_window
        (2, t0 + dt.timedelta(minutes=30), 7, "click", 2.0, "{}"),
        # well past gap: a new session
        (3, t0 + dt.timedelta(minutes=90), 7, "click", 4.0, "{}"),
        # far-future sentinel advances the watermark so sessions close
        (4, dt.datetime(2030, 1, 1), -1, "flush", 0.0, "{}"),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    batch_sessions = (
        df.filter("user_id >= 0")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .collect()
    )
    assert len(batch_sessions) == 2, "session_window must merge exact-gap events"

    landing = str(tmp_path / "boundary_landing")
    df.coalesce(1).write.mode("overwrite").parquet(landing)
    stream = read_events_stream(spark, landing)
    got = _run_to_memory(
        spark,
        sessionize_with_timeout(stream, gap_minutes=30),
        "sessions_boundary",
        mode="append",
    ).filter("user_id >= 0")
    out = {(r["n_events"], r["session_value"]) for r in got.collect()}
    assert out == {(2, 3.0), (1, 4.0)}


def test_user_value_ema_matches_batch(spark, tmp_path):
    """Per-key EMA state across micro-batches: two time-ordered files
    processed one per trigger must produce the same final EMA as a
    single time-ordered fold over all events (batch recomputation in
    pandas)."""
    import os

    from fintech_lakehouse_spark.streaming import user_value_ema

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .limit(600)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("ts")
    )
    pdf = events.toPandas()
    cut = pdf["ts"].median()
    landing = tmp_path / "ema_landing"
    landing.mkdir()
    early, late = pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]
    f0, f1 = str(landing / "part-000.parquet"), str(landing / "part-001.parquet")
    # coerce to µs: pandas defaults to TIMESTAMP(NANOS), which the
    # streaming schema (TimestampType) refuses to read
    early.to_parquet(f0, index=False, coerce_timestamps="us")
    late.to_parquet(f1, index=False, coerce_timestamps="us")
    # force source ordering: older mtime processes first
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    stream = read_events_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark, user_value_ema(stream, alpha=0.3), "ema_stream", mode="append"
    )
    # last emission per user = lifetime state
    from pyspark.sql.window import Window

    final = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter("_rn = 1")
        .select("user_id", "n_events", "ema_value", "n_spikes")
    )
    # batch oracle: time-ordered pandas fold
    alpha, spike_factor = 0.3, 3.0
    expected = {}
    for user_id, grp in pdf.sort_values("ts").groupby("user_id"):
        ema, n, spikes = None, 0, 0
        for v in grp["value"].fillna(0.0):
            v = float(v)
            if ema is None:
                ema = v
            else:
                if ema > 0 and v > spike_factor * ema:
                    spikes += 1
                ema = alpha * v + (1 - alpha) * ema
            n += 1
        expected[user_id] = (n, round(ema, 6), spikes)
    got_map = {
        r["user_id"]: (r["n_events"], r["ema_value"], r["n_spikes"])
        for r in final.collect()
    }
    assert got_map == expected
    # state visibly persisted across >1 micro-batch for at least some users
    assert got.count() > final.count()


def test_user_funnel_state_matches_batch(spark, tmp_path):
    """Streaming funnel state machine over two time-ordered
    micro-batches equals the batch conditional-min funnel stages."""
    import os

    from fintech_lakehouse_spark.streaming import user_funnel_state

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .limit(800)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("ts")
    )
    pdf = events.toPandas()
    cut = pdf["ts"].median()
    landing = tmp_path / "funnel_landing"
    landing.mkdir()
    f0 = str(landing / "part-000.parquet")
    f1 = str(landing / "part-001.parquet")
    pdf[pdf["ts"] <= cut].to_parquet(f0, index=False, coerce_timestamps="us")
    pdf[pdf["ts"] > cut].to_parquet(f1, index=False, coerce_timestamps="us")
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    stream = read_events_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(spark, user_funnel_state(stream), "funnel_stream", "append")
    final = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id")
                .orderBy(F.col("funnel_stage").desc())
            ),
        )
        .filter("_rn = 1")
        .select("user_id", "funnel_stage")
    )
    got_map = {r["user_id"]: r["funnel_stage"] for r in final.collect()}

    # batch model in pandas: first view, first click after, first
    # purchase after — per user over the SAME 800 events
    expected = {}
    for user_id, grp in pdf.sort_values("ts").groupby("user_id"):
        v = c = p = None
        for ts, typ in zip(grp["ts"], grp["event_type"]):
            if typ == "view" and v is None:
                v = ts
            elif typ == "click" and v is not None and ts > v and c is None:
                c = ts
            elif typ == "purchase" and c is not None and ts > c and p is None:
                p = ts
        expected[user_id] = 3 if p is not None else 2 if c is not None else 1 if v is not None else 0
    assert got_map == expected
    assert max(expected.values()) >= 2  # the fixture actually converts


def test_stream_stream_outer_join_matches_batch(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched pairs equal the
    batch interval join AND purchases with no prior click emit a
    null-click row once the watermark proves no late match can arrive.

    Outer-null finalization needs watermark ADVANCES ACROSS BATCHES
    (the watermark used in batch N is computed from batch N-1), so the
    landing dir is written as several files consumed one per trigger,
    ending with two far-future sentinel files that push the watermark
    past every real purchase's join window."""
    import datetime as dt

    from fintech_lakehouse_spark.streaming import (
        purchase_click_stream_join_outer,
        read_events_stream,
    )

    landing = tmp_path / "outer_landing"
    landing.mkdir()
    base = load_table(spark, "/root/testdata/sf0.001", "events").limit(300)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base.select(*cols).coalesce(1).write.mode("overwrite").parquet(
        str(landing / "f0")
    )
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    for i, sent_ts in enumerate(
        [dt.datetime(2030, 1, 1), dt.datetime(2030, 1, 2)], start=1
    ):
        sent = spark.createDataFrame(
            [
                (9_000_000 + i, sent_ts, -1, "purchase", 0.0, "{}"),
                (9_100_000 + i, sent_ts, -1, "click", 0.0, "{}"),
            ],
            schema=schema,
        )
        sent.coalesce(1).write.mode("overwrite").parquet(str(landing / f"f{i}"))
    # flatten: the file source reads a directory of parquet files
    import glob
    import shutil

    for sub in sorted(landing.iterdir()):
        if sub.is_dir():
            for j, f in enumerate(glob.glob(str(sub / "*.parquet"))):
                shutil.move(f, str(landing / f"{sub.name}_{j}.parquet"))
            shutil.rmtree(sub)

    stream = read_events_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        purchase_click_stream_join_outer(stream),
        "ss_outer_join",
        mode="append",
    ).filter("purchase_id < 9000000")

    events = base
    p = events.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS pu", "ts AS p_ts"
    )
    c = events.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id AS cu", "ts AS c_ts"
    )
    expected = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    got_pairs = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    exp_pairs = {(r["purchase_id"], r["click_id"]) for r in expected.collect()}
    assert got_pairs == exp_pairs
    assert any(cid is None for _, cid in exp_pairs), "need unmatched purchases"
    assert len(got_pairs) > 0


@pytest.mark.skipif(
    not __import__(
        "fintech_lakehouse_spark.streaming.events", fromlist=["tws_available"]
    ).tws_available(),
    reason="transformWithStateInPandas needs protobuf (absent offline)",
)
def test_user_value_ema_tws_matches_classic(spark, tmp_path):
    """transformWithStateInPandas EMA (Spark 4 arbitrary-state API)
    must produce the same final per-user state as the classic
    applyInPandasWithState operator over the same multi-batch input —
    the two APIs are interchangeable implementations of one
    operator contract. Skipped when the API's protobuf dependency is
    missing (this container); the operator raises a documented error
    there."""
    import os

    from pyspark.sql.window import Window

    from fintech_lakehouse_spark.streaming import (
        user_value_ema,
        user_value_ema_tws,
    )

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .limit(400)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("ts")
    )
    pdf = events.toPandas()
    cut = pdf["ts"].median()
    landing = tmp_path / "tws_landing"
    landing.mkdir()
    early, late = pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]
    f0, f1 = str(landing / "part-000.parquet"), str(landing / "part-001.parquet")
    early.to_parquet(f0, index=False, coerce_timestamps="us")
    late.to_parquet(f1, index=False, coerce_timestamps="us")
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    def final_states(op, name):
        stream = read_events_stream(spark, str(landing), max_files_per_trigger=1)
        got = _run_to_memory(spark, op(stream, alpha=0.3), name, mode="append")
        final = (
            got.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
                ),
            )
            .filter("_rn = 1")
            .select("user_id", "n_events", "ema_value", "n_spikes")
        )
        return {
            r["user_id"]: (r["n_events"], r["ema_value"], r["n_spikes"])
            for r in final.collect()
        }

    classic = final_states(user_value_ema, "ema_classic_cmp")
    tws = final_states(user_value_ema_tws, "ema_tws_cmp")
    assert tws == classic
    assert len(tws) > 0


def test_user_value_ema_tws_gated_without_protobuf(spark):
    """When protobuf is absent the TWS operator fails FAST with a
    clear message instead of crashing the streaming query mid-run."""
    from fintech_lakehouse_spark.streaming.events import tws_available
    from fintech_lakehouse_spark.streaming import user_value_ema_tws

    if tws_available():
        pytest.skip("protobuf present - gate inactive")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet("/root/testdata/sf0.001")
    with pytest.raises(RuntimeError, match="protobuf"):
        user_value_ema_tws(stream)


def test_foreach_batch_scd2_builds_history(spark, tmp_path):
    """Streaming SCD2 maintenance: two micro-batches of dimension
    updates (maxFilesPerTrigger=1) produce close-and-insert history;
    replaying the stream from scratch is idempotent."""
    import datetime as dt
    import os

    from fintech_lakehouse_spark.streaming import foreach_batch_scd2

    landing = tmp_path / "scd2_landing"
    landing.mkdir()
    target = str(tmp_path / "dim_scd2_stream")
    schema = (
        "customer_id long, risk_rating string, city string, "
        "effective_ts timestamp"
    )
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    b1 = spark.createDataFrame(
        [(1, "LOW", "oslo", t1), (2, "HIGH", "lima", t1)], schema
    )
    b2 = spark.createDataFrame(
        [(1, "HIGH", "oslo", t2), (2, "HIGH", "lima", t2)], schema
    )
    f0, f1 = str(landing / "b0.parquet"), str(landing / "b1.parquet")
    b1.toPandas().to_parquet(f0, index=False, coerce_timestamps="us")
    b2.toPandas().to_parquet(f1, index=False, coerce_timestamps="us")
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing))
        )
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_scd2(
                    target, key="customer_id", tracked_cols=["risk_rating", "city"]
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    dim = spark.read.parquet(target)
    assert dim.count() == 3  # 2 current + 1 closed history row
    c1 = {r["is_current"]: r for r in dim.filter("customer_id = 1").collect()}
    assert c1[True]["risk_rating"] == "HIGH"
    assert c1[False]["effective_to"] == t2
    # replay from a fresh checkpoint: same end state (idempotent)
    run("ck2")
    assert spark.read.parquet(target).count() == 3


def test_foreach_batch_cdf_changelog_replays_to_table(spark, tmp_path):
    """CDF-producer sink: two ordered micro-batches through
    foreach_batch_cdf must (a) leave the upsert table in the merged
    state, (b) record exactly the insert/update rows per batch — a
    re-sent identical row produces NO changelog row — and (c) the
    changelog replayed in batch order must reconstruct the table
    (the write-time analog of Delta CDF)."""
    import os
    import time as _time

    import pandas as pd

    from fintech_lakehouse_spark.streaming import foreach_batch_cdf

    src = tmp_path / "updates_stream"
    src.mkdir()
    # batch 1: five inserts. batch 2: two updates, one identical
    # re-send (u4 - must NOT appear in the changelog), one new key.
    b1 = pd.DataFrame(
        {"user_id": [f"u{i}" for i in range(1, 6)],
         "tier": ["bronze"] * 5, "v": [1] * 5}
    )
    b2 = pd.DataFrame(
        {"user_id": ["u2", "u3", "u4", "u6"],
         "tier": ["gold", "silver", "bronze", "bronze"],
         "v": [2, 2, 1, 1]}
    )
    b1.to_parquet(src / "b1.parquet", index=False)
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    b2.to_parquet(src / "b2.parquet", index=False)
    os.utime(src / "b1.parquet", (1, 1))

    target = str(tmp_path / "tiers")
    changelog = str(tmp_path / "tiers_cdf")
    stream = (
        spark.readStream.schema("user_id string, tier string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        stream.writeStream.foreachBatch(
            foreach_batch_cdf(target, changelog, key="user_id", order_by="v")
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    table = {
        r["user_id"]: (r["tier"], r["v"])
        for r in spark.read.parquet(target).collect()
    }
    assert table == {
        "u1": ("bronze", 1), "u2": ("gold", 2), "u3": ("silver", 2),
        "u4": ("bronze", 1), "u5": ("bronze", 1), "u6": ("bronze", 1),
    }

    cdf = spark.read.parquet(changelog).collect()
    by_batch = {}
    for r in cdf:
        by_batch.setdefault(r["_batch_id"], []).append(r)
    assert len(by_batch) == 2
    first, second = (by_batch[k] for k in sorted(by_batch))
    assert {r["_change_type"] for r in first} == {"insert"}
    assert len(first) == 5
    # u4's identical re-send is a no-op: exactly 3 changelog rows
    assert {(r["user_id"], r["_change_type"]) for r in second} == {
        ("u2", "update"), ("u3", "update"), ("u6", "insert"),
    }

    # replay the changelog in batch order => reconstructs the table
    replayed = {}
    for k in sorted(by_batch):
        for r in by_batch[k]:
            if r["_change_type"] == "delete":
                replayed.pop(r["user_id"], None)
            else:
                replayed[r["user_id"]] = (r["tier"], r["v"])
    assert replayed == table


def test_foreach_batch_cdf_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch id can re-run after a
    failure in any window — before the changelog commits, between
    changelog and upsert, or after the upsert but before the
    checkpoint commit. The changelog must come out identical in all
    of them (ADVICE r5 low #4): no duplicate rows, and — the sharp
    edge — no ERASED rows when the post-upsert retry recomputes an
    empty diff."""
    from fintech_lakehouse_spark.streaming import foreach_batch_cdf

    target = str(tmp_path / "t")
    changelog = str(tmp_path / "cdf")
    sink = foreach_batch_cdf(target, changelog, key="k", order_by="v")

    b0 = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v long")
    sink(b0, 0)
    b1 = spark.createDataFrame([("a", 2), ("c", 1)], "k string, v long")
    sink(b1, 1)

    def snapshot():
        rows = spark.read.parquet(changelog).collect()
        return sorted(
            (r["_batch_id"], r["k"], r["v"], r["_change_type"]) for r in rows
        )

    expect = [
        (0, "a", 1, "insert"),
        (0, "b", 1, "insert"),
        (1, "a", 2, "update"),
        (1, "c", 1, "insert"),
    ]
    assert snapshot() == expect

    # post-upsert retry of batch 1: diff vs the already-merged target
    # is EMPTY — the committed changelog rows must survive, and the
    # table must be unchanged
    sink(b1, 1)
    assert snapshot() == expect

    # mid-write retry: a partial (uncommitted) batch dir is replaced
    import os
    import shutil

    batch_dir = os.path.join(changelog, "batch=1")
    shutil.rmtree(batch_dir)
    os.makedirs(batch_dir)
    with open(os.path.join(batch_dir, "part-orphan.parquet"), "wb") as f:
        f.write(b"partial junk")  # no _SUCCESS => not committed
    # target already holds batch 1's merge, so the recomputed diff is
    # empty: the retry overwrites the junk with an empty-but-committed
    # batch dir (changelog rows for batch 1 are forfeited to the
    # failure, which at-least-once semantics allow only because the
    # partial write never carried _SUCCESS)
    sink(b1, 1)
    assert not os.path.exists(os.path.join(batch_dir, "part-orphan.parquet"))
    assert os.path.exists(os.path.join(batch_dir, "_SUCCESS"))
    assert snapshot() == expect[:2]


def test_streaming_bloom_decontamination_matches_batch(spark, tmp_path):
    """Stream-static bloom membership: documents arrive as a stream,
    the decontamination bloom (built in batch from the eval split) is
    the STATIC side of k broadcast semi joins — the shape of an
    ingest-time contamination gate at 100 TB: the bloom is built once
    per eval-suite release, every arriving micro-batch is checked
    without shuffling. Closed-source availableNow run must emit
    exactly the batch recomputation's surviving (doc, gram) rows."""
    from fintech_lakehouse_spark.functions.sampling import hash_bucket
    from fintech_lakehouse_spark.functions.sketches import (
        bloom_build_md5,
        bloom_filter_members,
    )
    from fintech_lakehouse_spark.functions.text import word_shingles

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    landing = str(tmp_path / "docs_landing")
    docs.repartition(2).write.mode("overwrite").parquet(landing)

    def grams_of(df):
        return (
            word_shingles(df, n=8)
            .select("doc_id", F.explode("shingles").alias("gram"))
            .withColumn("b", hash_bucket("doc_id", "split"))
        )

    # Static side: the bloom, built in batch from the eval split.
    bloom = bloom_build_md5(
        grams_of(docs).filter(F.col("b") >= 9000).select("gram"), "gram"
    )
    # Stream side: corpus docs land incrementally; membership check is
    # per-row (no aggregate), so append mode works with no watermark.
    stream_docs = (
        spark.readStream.schema(docs.schema).parquet(landing)
    )
    stream_hits = bloom_filter_members(
        grams_of(stream_docs).filter(F.col("b") < 9000).select("doc_id", "gram"),
        bloom,
        "gram",
    )
    got = _norm(
        _run_to_memory(spark, stream_hits, "bloom_stream_hits", mode="append"),
        ["doc_id", "gram"],
    )
    want = _norm(
        bloom_filter_members(
            grams_of(docs).filter(F.col("b") < 9000).select("doc_id", "gram"),
            bloom,
            "gram",
        ),
        ["doc_id", "gram"],
    )
    assert got == want and len(want) > 0


def test_stream_metrics_listener_captures_batches(spark, events_dir):
    """The streaming monitor: a progress listener turns micro-batch
    events into metrics rows whose engine-side input counts equal the
    sink-side row count (the lost-rows cross-check), flushable to a
    DataFrame off the listener thread."""
    from fintech_lakehouse_spark.streaming import StreamMetricsListener

    listener = StreamMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = read_events_stream(spark, events_dir)
        out = _run_to_memory(
            spark,
            stream.select("event_id", "user_id"),
            "listener_probe",
            mode="append",
        )
        sink_rows = out.count()
        import time as _t

        deadline = _t.time() + 30
        while _t.time() < deadline and not listener.rows:
            _t.sleep(0.5)  # listener events are async to query end
        metrics = listener.flush_to_table(spark)
        mrows = metrics.collect()
        assert mrows, "no progress events captured"
        assert sum(r["input_rows"] for r in mrows) == sink_rows
        assert all(r["batch_id"] >= 0 for r in mrows)
        assert listener.started and not listener.rows  # flushed
    finally:
        spark.streams.removeListener(listener)


def test_table_as_of_batch_time_travel(spark, tmp_path):
    """Time travel over the CDF changelog: as-of the first batch shows
    the pre-update state, as-of latest equals the live table — Delta
    VERSION AS OF semantics from the write-time changelog alone."""
    import os
    import time as _time

    import pandas as pd

    from fintech_lakehouse_spark.streaming import (
        foreach_batch_cdf,
        table_as_of_batch,
    )

    src = tmp_path / "tt_stream"
    src.mkdir()
    b1 = pd.DataFrame(
        {"user_id": ["u1", "u2", "u3"], "tier": ["bronze"] * 3, "v": [1] * 3}
    )
    b2 = pd.DataFrame(
        {"user_id": ["u2", "u4"], "tier": ["gold", "bronze"], "v": [2, 1]}
    )
    b1.to_parquet(src / "b1.parquet", index=False)
    _time.sleep(1.1)
    b2.to_parquet(src / "b2.parquet", index=False)
    os.utime(src / "b1.parquet", (1, 1))

    target = str(tmp_path / "tt_tiers")
    changelog = str(tmp_path / "tt_cdf")
    query = (
        spark.readStream.schema("user_id string, tier string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(
            foreach_batch_cdf(target, changelog, key="user_id", order_by="v")
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tt_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    batch_ids = sorted(
        r["_batch_id"]
        for r in spark.read.parquet(changelog).select("_batch_id").distinct().collect()
    )
    assert len(batch_ids) == 2

    def snap(df):
        return {r["user_id"]: (r["tier"], r["v"]) for r in df.collect()}

    as_of_first = snap(table_as_of_batch(spark, changelog, "user_id", batch_ids[0]))
    assert as_of_first == {
        "u1": ("bronze", 1), "u2": ("bronze", 1), "u3": ("bronze", 1)
    }
    as_of_latest = snap(table_as_of_batch(spark, changelog, "user_id"))
    assert as_of_latest == snap(spark.read.parquet(target))
    assert as_of_latest["u2"] == ("gold", 2) and "u4" in as_of_latest


def test_online_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming online MinHash-LSH dedup ≡ the batch twin, exactly:
    docs arrive in two micro-batches with duplicates crossing the
    batch boundary (4 dups 1, 5 near-dups 1) and inside one batch
    (7 dups 6); the accumulated-state pipeline must produce the same
    (is_dup, dup_of) decisions as lsh_band_pairs_md5 +
    verified_jaccard_pairs over the full corpus with min-match
    resolution — MinHash signatures are per-doc, so batching must not
    change anything."""
    import os
    import time

    import pandas as pd

    from fintech_lakehouse_spark.functions.text import (
        lsh_band_pairs_md5,
        minhash_signatures_md5,
        shingle_rows,
        verified_jaccard_pairs,
    )
    from fintech_lakehouse_spark.streaming import foreach_batch_online_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different content about spark query engines at scale ok"
    third = "yet another unique document with its own words and nothing shared"
    b1 = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, other, third]})
    b2 = pd.DataFrame(
        {
            "doc_id": [4, 5, 6, 7],
            "text": [base, near, "fresh new content arriving in batch two here now", "fresh new content arriving in batch two here now"],
        }
    )
    src = tmp_path / "docs"
    src.mkdir()
    b1.to_parquet(src / "b1.parquet", index=False)
    time.sleep(1.1)
    b2.to_parquet(src / "b2.parquet", index=False)
    os.utime(src / "b1.parquet", (1, 1))

    state = str(tmp_path / "dedup_state")
    decisions = str(tmp_path / "decisions")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(
            foreach_batch_online_dedup(state, decisions)
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in spark.read.parquet(f"{decisions}/version=*").collect()
    }

    # batch twin over the full corpus
    all_docs = spark.createDataFrame(pd.concat([b1, b2]))
    sig = minhash_signatures_md5(shingle_rows(all_docs, 3), 16)
    cands = lsh_band_pairs_md5(sig, n_hashes=16, n_bands=8)
    verified = verified_jaccard_pairs(all_docs, cands, n=3, threshold=0.5)
    from pyspark.sql import functions as F2

    twin = {
        r["doc_b"]: r["dup_of"]
        for r in verified.groupBy("doc_b")
        .agg(F2.min("doc_a").alias("dup_of"))
        .collect()
    }
    expected = {
        int(d): (d in twin, twin.get(d)) for d in pd.concat([b1, b2])["doc_id"]
    }
    assert got == expected
    # the planted structure really happened: cross-batch exact + near
    # dup found, within-batch dup found, originals kept
    assert got[4] == (True, 1) and got[5] == (True, 1)
    assert got[7] == (True, 6)
    assert got[1][0] is False and got[6][0] is False

    # replay of a committed batch is a no-op (exactly-once)
    fn = foreach_batch_online_dedup(state, decisions)
    fn(all_docs.limit(3), 0)
    assert spark.read.parquet(f"{decisions}/version=0").count() == 3


def test_online_dedup_replay_after_partial_crash(spark, tmp_path):
    """Crash-window correctness (review finding r7): state commits
    BEFORE decisions, so the dangerous replay is 'state written,
    decisions missing'. A replayed batch then finds its own
    fingerprints in the store — the doc_a < doc_b probe filter and the
    corpus dropDuplicates must keep the recomputed decisions identical
    to a clean run, and the store must never silently lose a batch."""
    import pandas as pd

    from fintech_lakehouse_spark.streaming import foreach_batch_online_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines at scale ok"
    b0 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [base, other]})
    )
    b1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3, 4], "text": [base, base]})
    )
    state = str(tmp_path / "state")
    dec = str(tmp_path / "dec")
    sink = foreach_batch_online_dedup(state, dec)
    sink(b0, 0)
    sink(b1, 1)
    clean = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in spark.read.parquet(f"{dec}/version=1").collect()
    }
    assert clean == {3: (True, 1), 4: (True, 1)}

    # simulate the crash window: decisions for batch 1 lost, state kept
    import shutil

    shutil.rmtree(f"{dec}/version=1")
    sink(b1, 1)  # replay against a store already holding batch 1
    replayed = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in spark.read.parquet(f"{dec}/version=1").collect()
    }
    assert replayed == clean
    # store still holds every batch exactly once
    assert spark.read.parquet(f"{state}/docs/version=*").count() == 4


def test_sketch_rollup_replay_is_idempotent(spark, tmp_path):
    """Exactly-once contract of foreach_batch_sketch_rollup under a
    replay: re-applying a committed batch is a no-op, and re-applying
    after the version dir is LOST recomputes from the previous
    snapshot to the identical state (the versioned-snapshot scheme's
    whole point)."""
    import shutil

    import pandas as pd

    from fintech_lakehouse_spark.streaming import (
        foreach_batch_sketch_rollup,
        read_materialized_view,
    )

    sink = foreach_batch_sketch_rollup(str(tmp_path / "v"), ["g"], "u")
    b0 = spark.createDataFrame(
        pd.DataFrame({"g": [1, 1, 2], "u": [10, 11, 10]})
    )
    b1 = spark.createDataFrame(
        pd.DataFrame({"g": [1, 2, 2], "u": [11, 20, 21]})
    )
    sink(b0, 0)
    sink(b1, 1)

    def estimates():
        return {
            r["g"]: (r["est"], r["n_rows"])
            for r in read_materialized_view(spark, str(tmp_path / "v"))
            .select(
                "g",
                F.hll_sketch_estimate("hll_sk").alias("est"),
                "n_rows",
            )
            .collect()
        }

    clean = estimates()
    # g=1: rows {10,11}+{11} → 3 rows, 2 distinct; g=2: {10}+{20,21}
    assert clean == {1: (2, 3), 2: (3, 3)}
    sink(b1, 1)  # committed replay: no-op
    assert estimates() == clean
    shutil.rmtree(str(tmp_path / "v" / "version=1"))  # lost snapshot
    sink(b1, 1)  # recompute from version=0
    assert estimates() == clean


def test_bm25_index_stream_equals_batch_registry_query(spark, sf_dir):
    """The streaming-maintained BM25 index must reproduce the batch
    registry query EXACTLY: feed the documents table through
    foreach_batch_bm25_index in three micro-batches (direct calls —
    arrival order is irrelevant to an index), then score the same
    query terms from the maintained state alone; top-20, scores, and
    match counts must equal bm25_doc_ranking's output on the same
    corpus — same un-logged idf, same rounding, same tie-break. Also
    checks committed-batch replay is a no-op."""
    import tempfile

    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans.text import BM25_QUERY_TERMS
    from fintech_lakehouse_spark.sources.readers import load_table
    from fintech_lakehouse_spark.streaming import (
        foreach_batch_bm25_index,
        read_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as root:
        index = f"{root}/bm25"
        sink = foreach_batch_bm25_index(index)
        for i in range(3):
            sink(docs.filter(F.col("doc_id") % 3 == i), i)
        got = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        expected = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in QUERIES["bm25_doc_ranking"](spark, sf_dir).collect()
        ]
        assert got == expected
        assert len(got) == 20
        # replay of a committed batch: postings not duplicated
        sink(docs.filter(F.col("doc_id") % 3 == 0), 0)
        again = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        assert again == expected


def test_drift_monitor_stream_equals_batch_registry_query(spark, sf_dir):
    """The streaming-maintained drift monitor must reproduce the batch
    order_price_drift_tvd registry query EXACTLY: stream the orders
    table through foreach_batch_drift in three micro-batches (split by
    orderkey — arrival order is irrelevant to associative counts),
    then compare the newest snapshot row-for-row against the batch
    query on the same table. Also checks committed-batch replay is a
    no-op and that intermediate versions give drift-verdict time
    travel."""
    import tempfile

    from fintech_lakehouse_spark.plans.analytics import order_price_drift_tvd
    from fintech_lakehouse_spark.sources.readers import load_table
    from fintech_lakehouse_spark.streaming import (
        foreach_batch_drift,
        read_materialized_view,
    )

    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as root:
        sink = foreach_batch_drift(root)
        batches = [
            orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == i)
            for i in range(3)
        ]
        for i, b in enumerate(batches):
            sink(b, i)

        def rows(df):
            return sorted(
                tuple(r) for r in df.select(
                    "bucket", "n_a", "n_b", "pa_ppm", "pb_ppm", "drift_ppm"
                ).collect()
            )

        maintained = rows(read_materialized_view(spark, root))
        batch = rows(order_price_drift_tvd(spark, sf_dir))
        assert maintained == batch

        sink(batches[2], 2)  # committed replay: no-op
        assert rows(read_materialized_view(spark, root)) == batch

        # time travel: the version=0 verdict covers only batch 0
        v0 = rows(read_materialized_view(spark, root, version=0))
        b0_counts = sum(r[1] + r[2] for r in v0 if r[0] >= 0)
        assert b0_counts == batches[0].count()


def test_drift_negative_price_clamps_not_evicted(spark, tmp_path):
    """A negative o_totalprice must clamp to bucket 0 (GREATEST lower
    clamp) — before the fix it produced a real bucket<0 row that the
    state merge's summary-row filter silently evicted each snapshot,
    breaking streaming==batch (advice finding r7). Feeds the negative
    row in batch 0 and a normal row in batch 1, then asserts the
    maintained state still counts BOTH."""
    from fintech_lakehouse_spark.plans.analytics import (
        drift_bucket_counts,
        drift_readout,
    )
    from fintech_lakehouse_spark.streaming import (
        foreach_batch_drift,
        read_materialized_view,
    )

    schema = "o_orderkey long, o_totalprice double, o_orderdate timestamp"
    import datetime as dt

    early = dt.datetime(1997, 1, 1)
    late = dt.datetime(1998, 6, 1)
    # each snapshot needs both periods present (the readout's period
    # totals are denominators), so batch 0 pairs the negative-price
    # period-a row with a normal period-b row
    b0 = spark.createDataFrame([(1, -500.0, early), (3, 200.0, late)], schema)
    b1 = spark.createDataFrame([(2, 100.0, late)], schema)
    root = str(tmp_path / "drift_neg")
    sink = foreach_batch_drift(root)
    sink(b0, 0)
    sink(b1, 1)

    def rows(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "bucket", "n_a", "n_b", "pa_ppm", "pb_ppm", "drift_ppm"
            ).collect()
        )

    maintained = rows(read_materialized_view(spark, root))
    batch = rows(drift_readout(drift_bucket_counts(b0.unionByName(b1))))
    assert maintained == batch
    # the negative-price row is retained, clamped into bucket 0
    assert sum(r[1] + r[2] for r in maintained if r[0] >= 0) == 3
    assert any(r[0] == 0 and r[1] == 1 for r in maintained)


def test_purchase_gap_monitor_equals_batch(spark, tmp_path):
    """Streaming repeat-payment state must equal the batch
    purchase_gap_profile after the stream drains — fed in event-time
    order across 3 micro-batches so the cross-batch boundary gaps are
    exercised (a user's consecutive purchases land in DIFFERENT
    files)."""
    from fintech_lakehouse_spark.plans.events import purchase_gap_profile
    from fintech_lakehouse_spark.streaming import (
        purchase_gap_monitor,
        read_events_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # ts-ordered thirds: sequential files simulate an ordered feed
    ordered = events.orderBy("ts", "event_id").collect()
    landing = tmp_path / "gap_landing"
    third = (len(ordered) + 2) // 3
    schema = events.schema
    for i in range(3):
        chunk = ordered[i * third : (i + 1) * third]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(landing / f"f{i}" / "part"))
    # flatten: the file source wants one dir of files
    import shutil

    dest = tmp_path / "gap_feed"
    dest.mkdir()
    import os
    import time

    now = time.time()
    for i in range(3):
        src = next((landing / f"f{i}" / "part").glob("part-*.parquet"))
        tgt = dest / f"{i:02d}.parquet"
        shutil.copy(src, tgt)
        # the file source picks batches by (modification time, path):
        # pin strictly ascending mtimes so batch order == event order
        os.utime(tgt, (now + 10 * i, now + 10 * i))
    stream = read_events_stream(spark, str(dest), max_files_per_trigger=1)
    got = _run_to_memory(
        spark, purchase_gap_monitor(stream), "gap_monitor", mode="append"
    )
    final = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id")
                .orderBy(F.col("n_purchases").desc())
            ),
        )
        .filter("_rn = 1")
        .filter("n_purchases >= 2")
        .select(
            "user_id", "n_purchases", "min_gap_ms", "n_rapid_2h",
            "review_flag",
        )
    )
    batch = purchase_gap_profile(events)
    cols = ["user_id", "n_purchases", "min_gap_ms", "n_rapid_2h",
            "review_flag"]
    assert _norm(final, cols) == _norm(batch, cols)
    # state really accumulated across batches: users emitted >1 row
    assert got.count() > final.count()


def test_fold_gap_state_late_batch_axes():
    """r7s3 review findings (waves 1+2): the fold works on the MERGED
    (stored-last ∪ batch) sequence — late pairs count, straddling
    batches keep the true boundary gap, and no pair skips over the
    stored event."""
    from fintech_lakehouse_spark.streaming.events import fold_gap_state

    # state last=100s; late batch [50s, 51s]: merged [50,51,100] —
    # the 1 s late pair AND the 49 s late→stored gap both count
    last, mn, n, nr = fold_gap_state(
        (100_000_000, None, 1, 0), [50_000_000, 51_000_000], 7_200_000_000
    )
    assert (last, mn, n, nr) == (100_000_000, 1_000_000, 3, 2)
    # STRADDLING batch (wave-2 finding #1): [50s, 150s] around the
    # stored 100s — merged [50,100,150] yields gaps 50,50; the naive
    # first-event check paired 50→150 (100 s) and missed the true
    # 50 s boundary gap
    last, mn, n, nr = fold_gap_state(
        (100_000_000, None, 1, 0),
        [50_000_000, 150_000_000],
        60_000_000,
    )
    assert (last, mn, n, nr) == (150_000_000, 50_000_000, 3, 2)
    # in-order batch: boundary + internal gaps both count
    last, mn, n, nr = fold_gap_state(
        (100_000_000, None, 1, 0), [103_000_000, 104_000_000], 7_200_000_000
    )
    assert (last, mn, n, nr) == (104_000_000, 1_000_000, 3, 2)
    # fresh key, single event: no gap yet
    assert fold_gap_state((None, None, 0, 0), [5], 10) == (5, None, 1, 0)
    # empty batch: state unchanged
    assert fold_gap_state((7, 3, 2, 1), [], 10) == (7, 3, 2, 1)


def test_bm25_lsm_compaction_equality_and_pruning(spark, sf_dir):
    """r9 LSM restructure (VERDICT r8 item 1): with compaction forced
    every 2 batches, (a) scores still EQUAL the batch registry query,
    (b) the store's live segment set is bounded (newest compact= dir +
    later deltas only), (c) the compacted postings are tb-partitioned
    so the query probe prunes to its terms' buckets, and (d) replaying
    a committed COMPACTION batch is a no-op."""
    import os
    import tempfile

    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans.text import BM25_QUERY_TERMS
    from fintech_lakehouse_spark.sources.readers import load_table
    from fintech_lakehouse_spark.streaming import (
        foreach_batch_bm25_index,
        read_bm25_index,
    )
    from fintech_lakehouse_spark.streaming.events import (
        BM25_TERM_BUCKETS,
        _lsm_live_dirs,
        _term_bucket_py,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as root:
        index = f"{root}/bm25"
        sink = foreach_batch_bm25_index(index, compact_every=2)
        for i in range(5):  # compactions at batch 2 and 4
            sink(docs.filter(F.col("doc_id") % 5 == i), i)
        post_root = f"{index}/postings"
        names = sorted(os.listdir(post_root))
        assert "compact=2" in names and "compact=4" in names
        live = _lsm_live_dirs(spark, post_root)
        # newest compact (4) is the base; deltas 0,1,3 are superseded
        assert [os.path.basename(d) for d in live] == ["compact=4"]
        # compacted dir is tb-partitioned
        tb_dirs = [
            n for n in os.listdir(f"{post_root}/compact=4")
            if n.startswith("tb=")
        ]
        assert 1 < len(tb_dirs) <= BM25_TERM_BUCKETS
        got = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        expected = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in QUERIES["bm25_doc_ranking"](spark, sf_dir).collect()
        ]
        assert got == expected
        # probe prunes: the scan of compact=4 must touch ONLY the query
        # terms' buckets (partition filter on tb)
        probe = read_bm25_index(spark, index, list(BM25_QUERY_TERMS), k=20)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        want = sorted({_term_bucket_py(t) for t in BM25_QUERY_TERMS})
        assert len(want) < BM25_TERM_BUCKETS  # pruning is non-vacuous
        assert "tb" in plan
        # replay of the committed compaction batch: exact no-op
        sink(docs.filter(F.col("doc_id") % 5 == 4), 4)
        again = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        assert again == expected


def test_bm25_lsm_crash_window_replay(spark, sf_dir):
    """Crash between the totals write and the postings commit at a
    COMPACTION batch: the replay must skip the committed totals dir and
    rebuild the postings snapshot to the identical state."""
    import shutil
    import tempfile

    from fintech_lakehouse_spark.plans.text import BM25_QUERY_TERMS
    from fintech_lakehouse_spark.sources.readers import load_table
    from fintech_lakehouse_spark.streaming import (
        foreach_batch_bm25_index,
        read_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as root:
        index = f"{root}/bm25"
        sink = foreach_batch_bm25_index(index, compact_every=2)
        for i in range(3):
            sink(docs.filter(F.col("doc_id") % 3 == i), i)
        clean = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        # simulate the crash window at the compaction batch (id=2):
        # totals committed, postings snapshot lost
        shutil.rmtree(f"{index}/postings/compact=2")
        sink(docs.filter(F.col("doc_id") % 3 == 2), 2)
        replayed = [
            (r["doc_id"], r["score"], r["n_terms_matched"])
            for r in read_bm25_index(
                spark, index, list(BM25_QUERY_TERMS), k=20
            ).collect()
        ]
        assert replayed == clean


def test_online_dedup_lsm_compaction_equals_batch(spark, tmp_path):
    """r9 LSM state (VERDICT r8 item 1): with compaction forced every
    2 batches, decisions across 5 batches still EQUAL the batch twin,
    the live segment set is bounded, the compacted band store is
    bb-partitioned, and a replay of the committed compaction batch is
    a no-op."""
    import os

    import pandas as pd

    from fintech_lakehouse_spark.functions.text import (
        lsh_band_pairs_md5,
        minhash_signatures_md5,
        shingle_rows,
        verified_jaccard_pairs,
    )
    from fintech_lakehouse_spark.streaming import foreach_batch_online_dedup
    from fintech_lakehouse_spark.streaming.events import _lsm_live_dirs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    texts = {
        1: base, 2: "completely different content about spark engines ok",
        3: "yet another unique document with its own words and nothing here",
        4: base, 5: near,
        6: "fresh new content arriving now", 7: "fresh new content arriving now",
        8: "one more standalone text with no relatives anywhere around it",
        9: near, 10: base,
    }
    batches = [[1, 2], [3, 4], [5, 6], [7, 8], [9, 10]]
    state = str(tmp_path / "state")
    dec = str(tmp_path / "dec")
    sink = foreach_batch_online_dedup(state, dec, compact_every=2)
    for i, ids in enumerate(batches):
        sink(
            spark.createDataFrame(
                pd.DataFrame(
                    {"doc_id": ids, "text": [texts[d] for d in ids]}
                )
            ),
            i,
        )
    # compactions happened at batches 2 and 4; live set is bounded
    assert {os.path.basename(d) for d in
            _lsm_live_dirs(spark, f"{state}/bands")} == {"compact=4"}
    bb_dirs = [
        n for n in os.listdir(f"{state}/bands/compact=4")
        if n.startswith("bb=")
    ]
    assert len(bb_dirs) > 1  # hash-partitioned compacted band store
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in spark.read.parquet(f"{dec}/version=*").collect()
    }
    all_docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(texts), "text": [texts[d] for d in texts]}
        )
    )
    sig = minhash_signatures_md5(shingle_rows(all_docs, 3), 16)
    cands = lsh_band_pairs_md5(sig, n_hashes=16, n_bands=8)
    verified = verified_jaccard_pairs(all_docs, cands, n=3, threshold=0.5)
    twin = {
        r["doc_b"]: r["dup_of"]
        for r in verified.groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
        .collect()
    }
    expected = {d: (d in twin, twin.get(d)) for d in texts}
    assert got == expected
    assert got[4] == (True, 1) and got[10] == (True, 1)
    assert got[7] == (True, 6)
    # replay of the committed compaction batch (4): exact no-op
    sink(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": batches[4],
                 "text": [texts[d] for d in batches[4]]}
            )
        ),
        4,
    )
    assert {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in spark.read.parquet(f"{dec}/version=*").collect()
    } == expected


def test_windowed_ohlc_matches_batch_registry_query(spark, events_dir):
    """r11: the streaming OHLC bars (min_by/max_by over the
    (ts, event_id) struct key, watermarked tumbling windows) must
    equal the batch registry query hourly_value_ohlc row-for-row —
    the asc/desc row_number conditional aggregates and min_by/max_by
    are the same first/last semantics."""
    from fintech_lakehouse_spark.plans.registry import QUERIES
    from fintech_lakehouse_spark.streaming import windowed_ohlc_bars

    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(spark, windowed_ohlc_bars(stream), "ohlc_bars")
    batch = QUERIES["hourly_value_ohlc"](spark, "/root/testdata/sf0.001")
    cols = ["event_type", "open", "high", "low", "close", "n_events"]
    got_n = sorted(
        (r["bar_ts"],) + tuple(r[c] for c in cols) for r in got.collect()
    )
    want_n = sorted(
        (r["bar_ts"],) + tuple(r[c] for c in cols) for r in batch.collect()
    )
    assert got_n == want_n and len(got_n) > 100


def _docs_batch(spark, ids):
    return spark.createDataFrame(
        [(i, f"document {i} about spark streaming sinks and state") for i in ids],
        "doc_id long, text string",
    )


@pytest.mark.parametrize(
    "sink_name", ["foreach_batch_online_dedup", "foreach_batch_bm25_index"]
)
def test_corpus_sink_failure_releases_cache_and_conf(spark, tmp_path, sink_name):
    """A corpus sink that fails on a stored segment it cannot read must
    raise AND leave the session as it found it: no cached frame left in
    the CacheManager, and spark.sql.shuffle.partitions back at its value
    before the call."""
    import glob
    import os

    from fintech_lakehouse_spark.streaming import events

    root = str(tmp_path / "store")
    if sink_name == "foreach_batch_online_dedup":
        sink = events.foreach_batch_online_dedup(root, str(tmp_path / "dec"))
        segment = f"{root}/bands/version=0"
    else:
        # compact_every=1 makes batch 1 a compaction, the only bm25
        # batch that reads stored segments
        sink = events.foreach_batch_bm25_index(root, compact_every=1)
        segment = f"{root}/postings/version=0"
    sink(_docs_batch(spark, [1, 2]), 0)
    parts = glob.glob(f"{segment}/*.parquet")
    assert parts
    for f in parts:
        os.remove(f)
    with open(f"{segment}/part-00000-junk.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file")

    spark.catalog.clearCache()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception):
        sink(_docs_batch(spark, [3, 4]), 1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _sink_case(spark, name, root):
    """(sink, first batch, read-back) for one foreachBatch sink rooted
    at ``root``; the read-back returns the sink's target, view or
    state as sorted rows."""
    import datetime as dt

    from fintech_lakehouse_spark import streaming as st

    def rows(*frames):
        return [
            sorted((tuple(r) for r in f.collect()), key=repr) for f in frames
        ]

    if name == "upsert":
        sink = st.foreach_batch_upsert(f"{root}/t", merge_keys=["k"])
        first = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        return sink, first, lambda: rows(spark.read.parquet(f"{root}/t"))
    if name == "scd2":
        sink = st.foreach_batch_scd2(
            f"{root}/t", key="customer_id", tracked_cols=["risk_rating"]
        )
        first = spark.createDataFrame(
            [(1, "LOW", dt.datetime(2024, 1, 1))],
            "customer_id long, risk_rating string, effective_ts timestamp",
        )
        return sink, first, lambda: rows(spark.read.parquet(f"{root}/t"))
    if name == "cdf":
        sink = st.foreach_batch_cdf(
            f"{root}/t", f"{root}/cl", key="k", order_by="v"
        )
        first = spark.createDataFrame([(1, 1), (2, 1)], "k long, v long")
        return sink, first, lambda: rows(
            spark.read.parquet(f"{root}/t"),
            st.table_as_of_batch(spark, f"{root}/cl", "k"),
        )
    if name == "ivm":
        sink = st.foreach_batch_ivm(f"{root}/v", ["grp"], {"total": "amount"})
        first = spark.createDataFrame(
            [(1, "a", 10.0, "insert")],
            "k long, grp string, amount double, _change_type string",
        )
    elif name == "sketch_rollup":
        sink = st.foreach_batch_sketch_rollup(f"{root}/v", ["g"], "u")
        first = spark.createDataFrame([(1, 10), (2, 11)], "g long, u long")
    elif name == "drift":
        sink = st.foreach_batch_drift(f"{root}/v")
        first = spark.createDataFrame(
            [(1, 50.0, dt.datetime(1997, 1, 1)), (2, 70.0, dt.datetime(1998, 6, 1))],
            "o_orderkey long, o_totalprice double, o_orderdate timestamp",
        )
    elif name == "online_dedup":
        sink = st.foreach_batch_online_dedup(f"{root}/s", f"{root}/d")
        first = _docs_batch(spark, [1, 2])
        return sink, first, lambda: rows(
            spark.read.parquet(f"{root}/d/version=*"),
            spark.read.parquet(f"{root}/s/docs/version=*"),
        )
    else:
        assert name == "bm25_index"
        sink = st.foreach_batch_bm25_index(f"{root}/i")
        first = _docs_batch(spark, [1, 2])
        return sink, first, lambda: rows(
            st.read_bm25_index(spark, f"{root}/i", ["spark", "document"])
        )
    return sink, first, lambda: rows(
        st.read_materialized_view(spark, f"{root}/v")
    )


@pytest.mark.parametrize(
    "name",
    [
        "upsert", "scd2", "cdf", "ivm",
        "sketch_rollup", "online_dedup", "bm25_index", "drift",
    ],
)
def test_empty_micro_batch_writes_nothing(spark, tmp_path, name):
    """The quiet-trigger rule of every foreachBatch sink: an empty
    micro-batch creates no directory or file, and the sink's target,
    view or state reads exactly as before."""
    import os

    root = str(tmp_path / name)
    sink, first, read_back = _sink_case(spark, name, root)
    sink(first, 0)

    def tree():
        return {
            os.path.join(d, n)
            for d, dirs, files in os.walk(root)
            for n in dirs + files
        }

    paths, before = tree(), read_back()
    assert before[0], "the first batch must leave something to read"
    sink(spark.createDataFrame([], first.schema), 1)
    assert tree() == paths
    assert read_back() == before
