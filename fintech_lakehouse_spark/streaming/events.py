"""Structured Streaming surface over the events stream (SURVEY §2.12
— [NEW]: the reference configures a checkpoint dir but ships no
streaming code; this is the declared-but-missing capability).

Design decisions (documented per SURVEY §7.4 risk 5, tested against
batch recomputation in tests/test_streaming.py):

* watermark 1 hour — late events beyond it are dropped from windowed
  state; adjust per SLA.
* tumbling/sliding windows and session windows use the SAME
  expressions as the batch twins in plans/events.py, so streaming
  output == batch output over a closed input (verified in tests with
  availableNow trigger).
* dedup uses dropDuplicatesWithinWatermark on event_id — bounded
  state, exactly-once per id within the watermark horizon.
* sinks: one exactly-once rule for every foreachBatch sink, so a
  replayed micro-batch changes nothing. The batch is persisted once
  and an empty one writes nothing; each batch id commits at most one
  ``_SUCCESS``-marked directory per store (``version=``, ``batch=``
  or ``compact=``), a replayed id whose directory committed is
  skipped, and readers list committed directories only. The lake
  sinks MERGE through sources.writers (upsert_lake_table,
  scd2_upsert), which is idempotent itself.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fintech_lakehouse_spark.sources.writers import (
    dir_committed,
    hadoop_fs,
    local_path_of,
    read_existing_table,
    scd2_upsert,
    snapshot_diff,
    upsert_lake_table,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of event parquet files landing in ``path``.

    At scale the source would be Kafka (`spark.readStream.format
    ("kafka")`) — the downstream operators are source-agnostic."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide_duration`` is set) windowed
    counts/sums per event_type. Watermark bounds state: windows older
    than max(ts) − watermark finalize and evict."""
    window_col = (
        F.window("ts", window_duration, slide_duration)
        if slide_duration
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(window_col.alias("w"), "event_type")
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


def windowed_ohlc_bars(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming OHLC bars — the streaming twin of the registry query
    ``hourly_value_ohlc`` (r11): tumbling windows per event_type with
    open/close as min_by/max_by over the (ts, event_id) struct key
    (identical first/last semantics to the batch query's asc/desc
    row_number — event_id uniquifies ties), high/low/count exact.
    Watermark bounds state; bars finalize when the watermark passes
    the window end. The bar-build every market-data pipeline runs."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("w"), "event_type"
        )
        .agg(
            F.round(
                F.min_by("value", F.struct("ts", "event_id")), 4
            ).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(
                F.max_by("value", F.struct("ts", "event_id")), 4
            ).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("bar_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (gap-based), streaming-native state
    merging. Batch twin: plans/events.py::user_sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
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


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once per event_id within the watermark horizon —
    bounded-state streaming dedup (SURVEY §2.12)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_click_stream_join(
    events: DataFrame, lookback: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.12): purchases pair with
    same-user clicks from the preceding ``lookback``. Watermarks on
    BOTH sides + the time-bound condition let the engine evict click
    state once no future purchase can match it — unbounded joins are
    refused in streaming. Batch twin (oracle-checked):
    plans/events.py::purchase_click_interval_join."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "p_ts", "c_ts", "c_value")


def purchase_click_stream_join_outer(
    events: DataFrame, lookback: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join (SURVEY §2.12): like
    :func:`purchase_click_stream_join` but a purchase with NO matching
    prior click still emits — with null click columns — once the
    watermark passes its join window, i.e. when the engine can PROVE
    no late click can ever match. That proof is why outer stream-stream
    joins demand watermarks on both sides plus a two-sided time-range
    condition: without an upper bound on click lateness the null row
    could never be finalized. Conversion funnels need exactly this
    (the un-attributed purchase IS the signal)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", "p_ts", "c_ts", "c_value")


STATEFUL_TOTALS_SCHEMA = (
    "user_id long, events_seen long, total_value double, batch_events long"
)
_STATE_SCHEMA = "events_seen long, total_value double"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY §2.12: applyInPandasWithState
    — the escape hatch when built-in windows can't express the state
    machine): per-user running totals that persist across micro-batches
    in the state store.

    Each invocation receives the user's Arrow batches for this
    micro-batch plus their persisted state; emits one row per user per
    batch with lifetime totals. The same pattern carries fraud
    velocity counters, session enrichment, or per-entity model state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        batch_events = 0
        batch_value = 0.0
        for pdf in pdfs:
            batch_events += len(pdf)
            batch_value += float(pdf["value"].fillna(0.0).sum())
        if state.exists:
            seen, total = state.get
        else:
            seen, total = 0, 0.0
        seen += batch_events
        total += batch_value
        state.update((seen, total))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "events_seen": [seen],
                "total_value": [round(total, 4)],
                "batch_events": [batch_events],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_CLOSE_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, session_value double"
)
_SESSION_STATE_SCHEMA = (
    "start_ms long, last_ms long, n_events long, total_value double"
)


def sessionize_with_timeout(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Custom sessionization via applyInPandasWithState with an
    EVENT-TIME TIMEOUT (SURVEY §2.12 extension): a user's session
    closes — and emits exactly one row — when the watermark passes
    last_event + gap, even if the user never sends another event.

    This is what session_window cannot give you: session CLOSE events
    (for downstream triggers) and a state machine you can enrich with
    arbitrary per-session logic. Gap semantics match session_window /
    user_sessions: an event exactly ``gap`` after the last one still
    extends the session (empirically pinned —
    tests/test_streaming.py::test_session_gap_boundary_semantics —
    session_window's merge is INCLUSIVE at the exact-gap boundary).

    State: (start_us, last_us, n_events, total_value) epoch-MICROsecond
    longs — event timestamps carry µs precision, so an epoch-ms state
    would truncate session_start and break exact equality with the
    batch recomputation (verified in tests/test_streaming.py).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]

        def emit(start_us, last_us, n, total):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(last_us, unit="us")],
                    "n_events": [n],
                    "session_value": [round(total, 4)],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit(start_us, last_us, n, total)
            return

        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        rows = pd.concat(batches).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1_000).to_list()
        values = rows["value"].fillna(0.0).to_list()

        # INTERVAL-merge fold: each event is a [t, t] interval, the
        # persisted session an atomic [start, last] interval; sort all
        # items by start and sweep. This is what makes late-but-within-
        # watermark events match the batch session_window recompute: a
        # late event inside (start − gap, start) extends the session
        # BACKWARD (the old fold could never move start), and a late
        # event more than gap before start forms its own earlier
        # session instead of being silently absorbed. (A late event
        # arriving a BATCH AFTER its session was already emitted is
        # the one divergence left — single-interval state cannot
        # re-open history; the watermark bounds that window.)
        items = [[t, t, 1, float(v)] for t, v in zip(ts_us, values)]
        if state.exists:
            items.append(list(state.get))
            items.sort(key=lambda it: it[0])
        cur = items[0]
        for it in items[1:]:
            if it[0] <= cur[1] + gap_us:
                cur[1] = max(cur[1], it[1])
                cur[2] += it[2]
                cur[3] += it[3]
            else:
                yield emit(*cur)
                cur = it
        state.update(tuple(cur))
        # Close when the event-time watermark passes last + gap. The
        # timeout timestamp (milliseconds) must sit beyond the current
        # watermark.
        state.setTimeoutTimestamp(
            max((cur[1] + gap_us) // 1_000 + 1, state.getCurrentWatermarkMs() + 1)
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_CLOSE_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


EMA_SCHEMA = (
    "user_id long, n_events long, ema_value double, n_spikes long"
)
_EMA_STATE_SCHEMA = "n_events long, ema double, n_spikes long"


def user_value_ema(
    events: DataFrame, alpha: float = 0.3, spike_factor: float = 3.0
) -> DataFrame:
    """Per-key model state (SURVEY §2.12 extension): an exponentially
    weighted moving average of each user's event values, persisted in
    the state store across micro-batches — the fraud-scoring shape
    where each key carries a tiny online model.

    Within each invocation events fold in event-time order:
    ema ← α·value + (1−α)·ema (first event seeds the EMA). An event
    more than ``spike_factor``× the prior EMA counts as a spike — the
    alert signal a fraud pipeline would route to alerting.py. Emits
    one row per user per micro-batch with lifetime counters; the last
    row per user equals the batch recomputation (verified in
    tests/test_streaming.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        rows = pd.concat(batches).sort_values("ts")
        if state.exists:
            n, ema, spikes = state.get
        else:
            n, ema, spikes = 0, None, 0
        for v in rows["value"].fillna(0.0).to_list():
            v = float(v)
            if ema is None:
                ema = v
            else:
                if ema > 0 and v > spike_factor * ema:
                    spikes += 1
                ema = alpha * v + (1 - alpha) * ema
            n += 1
        state.update((n, float(ema), spikes))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "ema_value": [round(float(ema), 6)],
                "n_spikes": [spikes],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EMA_SCHEMA,
        stateStructType=_EMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state-server
    protocol (the driver-side schema worker dies with ImportError
    otherwise). protobuf is absent from this container and cannot be
    installed offline — same env-gate category as delta-spark
    (ROUND_NOTES r3)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_value_ema_tws(
    events: DataFrame, alpha: float = 0.3, spike_factor: float = 3.0
) -> DataFrame:
    """:func:`user_value_ema` re-expressed on transformWithStateInPandas
    (Spark 4's current-generation arbitrary-state API, SURVEY §2.12):
    the same per-key online EMA model, but state lives in a named
    ValueState handle instead of a single opaque tuple — the API shape
    that supports multiple typed state variables, TTL, and timers per
    key. Semantically identical to the classic operator (test asserts
    equivalence when the API's protobuf dependency is present; see
    :func:`tws_available`) so either API can serve the pipeline; on
    clusters with protobuf new code should prefer this one,
    applyInPandasWithState is the legacy path."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires protobuf, which is not "
            "installed in this environment — use user_value_ema "
            "(applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class EmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ema", _EMA_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            user_id = key[0]
            batches = [pdf for pdf in rows if len(pdf)]
            if not batches:
                return
            frame = pd.concat(batches).sort_values("ts")
            if self._state.exists():
                n, ema, spikes = self._state.get()
            else:
                n, ema, spikes = 0, None, 0
            for v in frame["value"].fillna(0.0).to_list():
                v = float(v)
                if ema is None:
                    ema = v
                else:
                    if ema > 0 and v > spike_factor * ema:
                        spikes += 1
                    ema = alpha * v + (1 - alpha) * ema
                n += 1
            self._state.update((n, float(ema), spikes))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "ema_value": [round(float(ema), 6)],
                    "n_spikes": [spikes],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EmaProcessor(),
        outputStructType=EMA_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


FUNNEL_SCHEMA = (
    "user_id long, funnel_stage int, first_view timestamp, "
    "first_click timestamp, first_purchase timestamp"
)
_FUNNEL_STATE_SCHEMA = "v_us long, c_us long, p_us long"


def user_funnel_state(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel (SURVEY §2.12 extension): per user,
    track view → later click → later purchase as a persistent state
    machine. Emits the user's current funnel stage (0-3) each
    micro-batch; the batch twin is plans/events.py::purchase_funnel's
    per-user staged minima.

    State is three epoch-µs longs (-1 = stage not reached). Events
    fold in event-time order within each batch, so with a time-ordered
    source the first qualifying event at each stage IS the minimum —
    matching the batch conditional-min semantics exactly."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        rows = pd.concat(batches).sort_values("ts")
        if state.exists:
            v, c, p = state.get
        else:
            v, c, p = -1, -1, -1
        for ts, typ in zip(
            (rows["ts"].astype("int64") // 1_000).to_list(),
            rows["event_type"].to_list(),
        ):
            if typ == "view" and v < 0:
                v = ts
            elif typ == "click" and v >= 0 and ts > v and c < 0:
                c = ts
            elif typ == "purchase" and c >= 0 and ts > c and p < 0:
                p = ts
        state.update((v, c, p))

        def t(us):
            return pd.to_datetime(us, unit="us") if us >= 0 else pd.NaT

        stage = 3 if p >= 0 else 2 if c >= 0 else 1 if v >= 0 else 0
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "funnel_stage": [stage],
                "first_view": [t(v)],
                "first_click": [t(c)],
                "first_purchase": [t(p)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# The exactly-once rule every foreachBatch sink below follows (module
# docstring, "sinks"): structured streaming replays a micro-batch id
# after a failure, and a replayed id must change nothing.

_SINK_SHUFFLE_PARTITIONS = 8


@contextmanager
def _sink_shuffle_partitions(spark: SparkSession):
    """Size in-sink shuffles to a micro-batch (``_SINK_SHUFFLE_PARTITIONS``)
    instead of the session's scan-sized setting. The session value is
    restored on every exit path; the setting is session-scoped, so a
    query planned CONCURRENTLY on the same session could observe it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_SINK_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run_unless_empty(frame: DataFrame, work) -> None:
    """Persist ``frame`` and run ``work(frame)`` unless it is empty —
    the quiet-trigger guard of every sink. ONE job materializes the
    cache and answers emptiness (r12, VERDICT r11 item 1: a separate
    isEmpty probe was an extra per-batch source scan), and every action
    in ``work`` re-reads the cache. The cache is released on every
    exit path, a failed ``work`` included."""
    frame = frame.persist()
    try:
        if frame.count() > 0:
            work(frame)
    finally:
        frame.unpersist()


def _committed_dirs(
    spark: SparkSession, root: str, prefix: str, upto: int | None = None
) -> list[tuple[int, str]]:
    """``(n, path)`` of every committed (``_SUCCESS``) ``<prefix><n>``
    directory under ``root`` with n ≤ ``upto`` (None = all), sorted by
    n. A directory a producer crashed inside holds a partial write and
    is never listed. Local roots are listed with os.* (no py4j round
    trips per micro-batch); remote ones (s3a://, hdfs://) through the
    path's own Hadoop FileSystem, so their history resolves instead of
    silently reading as empty."""
    root = root.rstrip("/")
    lp = local_path_of(root)
    if lp is not None:
        names = os.listdir(lp) if os.path.isdir(lp) else []
    else:
        fs, jvm = hadoop_fs(spark, root)
        p = jvm.org.apache.hadoop.fs.Path(root)
        names = (
            [s.getPath().getName() for s in fs.listStatus(p)]
            if fs.exists(p)
            else []
        )
    found = []
    for name in names:
        if not name.startswith(prefix):
            continue
        n = int(name[len(prefix):])
        path = f"{root}/{name}"
        if (upto is None or n <= upto) and dir_committed(spark, path):
            found.append((n, path))
    return sorted(found)


def _lsm_live_dirs(
    spark: SparkSession, root: str, max_version: int | None = None
) -> list[str]:
    """Live directories of an LSM-shaped versioned store (r9, VERDICT
    r8 item 1): per-batch DELTAS land as ``version=<batch_id>`` dirs;
    a periodic COMPACTION folds the whole state into a
    ``compact=<batch_id>`` dir. The current state is the union of the
    newest committed compact dir plus every committed delta AFTER it —
    deltas at or below the compaction point are superseded (kept only
    as garbage, never read). Compaction identity lives in the DIR NAME,
    not a marker file, so there is no crash window in which a full
    snapshot could be mistaken for a delta and double-counted.

    ``max_version`` (inclusive) bounds the view for replay: a retried
    batch folds state strictly BELOW its own id, so a crashed prior
    attempt's own output is never its input."""
    deltas = _committed_dirs(spark, root, "version=", max_version)
    compacts = _committed_dirs(spark, root, "compact=", max_version)
    if not compacts:
        return [path for _, path in deltas]
    base_v, base = compacts[-1]
    return [base] + [path for v, path in deltas if v > base_v]


def _lsm_read(
    spark: SparkSession,
    store: str,
    cols: list[str],
    max_version: int | None = None,
) -> DataFrame | None:
    """The live segments of ``store`` (:func:`_lsm_live_dirs`) as one
    frame of ``cols``, or None while the store is empty. Per-dir reads:
    a compacted (bucket-partitioned) base and flat deltas cannot share
    one multi-root scan (Spark's partition discovery rejects the
    conflicting structures)."""
    out = None
    for d in _lsm_live_dirs(spark, store, max_version):
        seg = spark.read.parquet(d).select(*cols)
        out = seg if out is None else out.unionByName(seg)
    return out


def _lsm_segment(
    store: str, batch_id: int, compact_every: int
) -> tuple[str, bool]:
    """``(dir, is_compaction)`` of batch ``batch_id``'s segment of
    ``store``: every ``compact_every``-th batch (never batch 0) writes
    a ``compact=<id>`` snapshot, every other batch a ``version=<id>``
    delta."""
    compact = (
        compact_every > 0 and batch_id > 0 and batch_id % compact_every == 0
    )
    return f"{store}/{'compact' if compact else 'version'}={batch_id}", compact


def _write_lsm_segment(
    spark: SparkSession,
    store: str,
    batch_id: int,
    compact_every: int,
    delta: DataFrame,
    fold=lambda full: full,
    bucket: tuple | None = None,
) -> None:
    """Write batch ``batch_id``'s segment of the LSM store ``store``
    once; a committed segment dir is skipped. A delta batch writes
    ``delta`` as one file — BATCH-sized, nothing is rewritten
    in-flight. A compaction batch folds every live segment STRICTLY
    BELOW this batch (replay safety) plus ``delta`` through ``fold``
    into one snapshot; ``bucket`` = ``(name, column)`` hash-partitions
    that snapshot by ``name`` so probes prune to their buckets."""
    seg, compact = _lsm_segment(store, batch_id, compact_every)
    if dir_committed(spark, seg):
        return
    if not compact:
        delta.coalesce(1).write.mode("overwrite").parquet(seg)
        return
    prev = _lsm_read(spark, store, delta.columns, max_version=batch_id - 1)
    full = fold(delta if prev is None else delta.unionByName(prev))
    if bucket is None:
        full.write.mode("overwrite").parquet(seg)
        return
    name, col = bucket
    full.withColumn(name, col).repartition(name).write.mode(
        "overwrite"
    ).partitionBy(name).parquet(seg)


def _snapshot_sink(view_path: str, fold):
    """The versioned-snapshot sink behind foreach_batch_ivm,
    foreach_batch_sketch_rollup and foreach_batch_drift:
    ``fold(batch, current)`` builds the new state from the persisted
    micro-batch and the previous committed snapshot (None before the
    first one).

    Exactly-once without a transaction log: batch N writes the whole
    state as ``version=N/``. A retried batch id whose version directory
    already committed (_SUCCESS) is SKIPPED; an uncommitted retry
    recomputes from the newest committed version below N —
    deterministic because the checkpoint pins batch-id → content.
    Readers take the newest committed version (read_materialized_view),
    which also yields time travel for free. coalesce(1): the state is
    group-cardinality sized; a single part file keeps the snapshot
    listing O(versions), and an EMPTY state still writes a
    schema-bearing footer so the next read round-trips."""
    root = view_path.rstrip("/")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vdir = f"{root}/version={batch_id}"
        if dir_committed(spark, vdir):
            return  # retry of a committed batch: exactly-once skip

        def write(batch: DataFrame) -> None:
            current = read_materialized_view(spark, root, version=batch_id - 1)
            fold(batch, current).coalesce(1).write.mode("overwrite").parquet(
                vdir
            )

        _run_unless_empty(batch_df, write)

    return _apply


def foreach_batch_upsert(
    target_path: str,
    merge_keys: list[str],
    partition_by: list[str] | None = None,
):
    """foreachBatch sink: MERGE each micro-batch into a lake table —
    idempotent under replay (micro-batch reprocessing upserts the same
    keys). Reuses the batch upsert operator (SURVEY §2.1 S6); with
    ``partition_by`` the merge rewrites only the partitions a
    micro-batch touches (selective overwrite) — the shape a continuous
    100 TB ingest needs, since each micro-batch lands in one or two
    date partitions."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # without the quiet-trigger guard the no-partition path would
        # read, dedup and fully rewrite the target as a no-op
        _run_unless_empty(
            batch_df,
            lambda batch: upsert_lake_table(
                batch.sparkSession,
                batch,
                target_path,
                merge_keys=merge_keys,
                partition_by=partition_by,
            ),
        )

    return _write


def foreach_batch_scd2(
    target_path: str,
    key: str,
    tracked_cols: list[str],
    ts_col: str = "effective_ts",
):
    """foreachBatch sink that maintains an SCD Type 2 dimension from a
    stream of attribute updates: each micro-batch routes through
    ``sources.writers.scd2_upsert``, so a changed attribute closes the
    current row at the event's timestamp and opens a new one, while
    unchanged/duplicate events are no-ops — which is exactly what
    makes the sink idempotent under micro-batch REPLAY (reprocessing a
    batch re-applies the same attribute values and changes nothing).
    Streaming dimension maintenance is the standard CDC-consumer
    shape: the upstream source is a change feed, the lake table keeps
    point-in-time history for ``operators.joins.point_in_time_join``."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _run_unless_empty(
            batch_df,
            lambda batch: scd2_upsert(
                batch.sparkSession,
                batch,
                target_path,
                key=key,
                tracked_cols=tracked_cols,
                ts_col=ts_col,
            ),
        )

    return _write


def foreach_batch_cdf(
    target_path: str,
    changelog_path: str,
    key: str,
    order_by: str | None = None,
    emit_preimage: bool = False,
):
    """foreachBatch sink that maintains an upsert table AND records a
    Change Data Feed at write time — the parquet-mode analog of Delta
    CDF (the env-gated Delta branch records changes in the commit log
    for free; here the sink writes them explicitly, which is exactly
    what CDF is). Per micro-batch, BEFORE the upsert rewrites the
    target:

    * the batch is collapsed to its latest row per key (``order_by``
      desc — intra-batch history folds like scd2_upsert),
    * the affected slice of the current target (a key-semi-join — the
      diff never reads untouched keys, so it is batch-sized, not
      table-sized) is diffed against the batch via
      ``sources.writers.snapshot_diff``,
    * the resulting insert/update rows (upsert streams produce no
      deletes; a no-op re-send of identical values produces NO row —
      the property CDF consumers rely on to avoid phantom updates)
      are APPENDED to ``changelog_path`` stamped with the batch id,
    * then the batch upserts into the target.

    Replaying the changelog in batch-id order over the initial state
    reconstructs the table exactly (the snapshot_diff replay guarantee,
    property-tested in tests/test_property_based.py); the streaming
    test pins it end-to-end."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # the diff AND the upsert below both re-read the cache
        _run_unless_empty(batch_df, lambda batch: _write_inner(batch, batch_id))

    def _write_inner(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        latest = batch_df
        if order_by:
            w = Window.partitionBy(key).orderBy(F.col(order_by).desc())
            latest = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        compare_cols = [c for c in latest.columns if c != key]
        # format-aware read: the target is maintained by
        # upsert_lake_table, which MERGEs through Delta when
        # delta-spark is installed. A raw parquet read of a Delta
        # table also sees superseded (tombstoned) data files —
        # multiple rows per key in old_slice, phantom updates in the
        # diff, replay guarantee broken (ADVICE r5 medium #1).
        old = read_existing_table(spark, target_path)
        if old is None:
            changelog = latest.select(
                key, *compare_cols, F.lit("insert").alias("_change_type")
            )
        else:
            old_slice = old.join(
                latest.select(key).distinct(), key, "left_semi"
            )
            # emit_preimage=True switches to Delta CDF's four-type
            # vocabulary (update_preimage/update_postimage) so the
            # changelog can feed downstream incremental view
            # maintenance (foreach_batch_ivm / operators/ivm.py).
            changelog = snapshot_diff(
                old_slice, latest, keys=[key], emit_preimage=emit_preimage
            )
        # the write MATERIALIZES the diff before the upsert below
        # rewrites the target it reads from. Retry idempotency
        # (ADVICE r5 low #4): each batch writes its OWN batch=<id>
        # subdirectory instead of blind-appending to the root, and a
        # re-run of a batch id whose subdir already committed
        # (_SUCCESS present) SKIPS the changelog write — streaming
        # pins batch-id → content via the checkpoint, so the committed
        # rows are already correct. Skip, not overwrite, because the
        # dangerous retry window is AFTER the upsert commits: there
        # the recomputed diff is empty and an overwrite would erase
        # the batch's changelog rows. A partial write (no _SUCCESS)
        # is replaced cleanly by the overwrite. The marker probe goes
        # through the path's own Hadoop FileSystem (dir_committed),
        # so remote URIs get the same exactly-once skip as local ones.
        # Readers of the root see the `batch` partition column plus
        # the `_batch_id` data column (identical values; the data
        # column is kept because underscore-prefixed partition DIRS
        # would be invisible to parquet partition discovery).
        batch_dir = f"{changelog_path.rstrip('/')}/batch={batch_id}"
        if not dir_committed(spark, batch_dir):
            changelog.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(batch_dir)
        upsert_lake_table(
            spark, latest, target_path, merge_keys=[key], order_by=order_by
        )

    return _write


def table_as_of_batch(
    spark: SparkSession,
    changelog_path: str,
    key: str,
    batch_id: int | None = None,
) -> DataFrame:
    """TIME TRAVEL over a foreach_batch_cdf changelog: reconstruct the
    upsert table's state AS OF ``batch_id`` (inclusive; None = latest)
    — the parquet-mode answer to Delta's ``VERSION AS OF``, built on
    the changelog-replay guarantee (replaying insert/update/delete
    rows in batch order reproduces the table; property-tested in
    tests/test_property_based.py).

    Shape: filter the changelog to batches <= N (``_batch_id`` is a
    partition-friendly column — at scale the changelog is written
    partitioned by it and this filter becomes partition pruning), then
    ONE keyed window takes each key's latest change and drops keys
    whose latest change is a delete. Cost scales with CHANGE
    cardinality up to N, not table size — the whole point of
    record-at-write CDF vs re-snapshotting.

    Works on both changelog vocabularies: ``update_preimage`` rows
    (emit_preimage=True feeds) are dropped BEFORE the window — they
    carry the values a key had before its update, and with only
    ``_batch_id`` to order by they would tie with the postimage row
    and nondeterministically win the row_number race.

    Only _SUCCESS-committed batch directories are read: a batch dir
    the producer crashed inside holds partial part-files, and a root
    read would fold that never-committed subset into the
    reconstruction — a state no committed table version ever had. The
    explicit-path read also keeps the inferred ``batch`` discovery
    column out of the result schema (the reconstruction must match
    the target table's columns exactly)."""
    from pyspark.sql.window import Window

    committed = [
        path for _, path in _committed_dirs(spark, changelog_path, "batch=")
    ]
    if not committed:
        raise FileNotFoundError(
            f"no committed changelog batches under {changelog_path}"
        )
    log = spark.read.parquet(*committed).filter(
        F.col("_change_type") != "update_preimage"
    )
    if batch_id is not None:
        log = log.filter(F.col("_batch_id") <= batch_id)
    w = Window.partitionBy(key).orderBy(F.col("_batch_id").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("_change_type") != "delete")
        .drop("_rn", "_change_type", "_batch_id")
    )


def read_materialized_view(
    spark: SparkSession, view_path: str, version: int | None = None
):
    """Read the latest committed version of a foreach_batch_ivm view
    (or a specific ``version`` — the view-side VERSION AS OF, the
    companion of table_as_of_batch). Returns None if no committed
    version exists yet. Remote view paths (s3a://, hdfs://) are listed
    through their own Hadoop FileSystem (:func:`_committed_dirs`), so
    their history resolves instead of silently reading as empty — an
    os.path probe there would make every remote IVM batch bootstrap
    from None and reset the view to its own delta."""
    versions = _committed_dirs(spark, view_path, "version=", version)
    if not versions:
        return None
    return spark.read.parquet(versions[-1][1])


def foreach_batch_ivm(
    view_path: str,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
):
    """foreachBatch sink that maintains a MATERIALIZED AGGREGATE from
    a four-type CDF changelog stream — incremental view maintenance
    (operators/ivm.py) as a streaming consumer. This is the downstream
    half of the CDF story: foreach_batch_cdf(emit_preimage=True)
    records what changed; this sink folds those changes into a
    group-cardinality view (count + exact DECIMAL sums) WITHOUT ever
    rescanning the base table — the streaming analog of a Databricks
    materialized view on CDF, and the scale answer to the reference's
    full-recompute Gold rollups (ref src/config/base.py:92-96).

    Exactly-once without a transaction log: the view is written as
    versioned snapshots ``version=<consumer_batch_id>/`` (each
    group-cardinality sized, so snapshots are cheap) by
    :func:`_snapshot_sink` — a committed retry is skipped, an
    uncommitted one recomputes from the last committed version.
    Readers take the newest committed version
    (read_materialized_view), which also yields view-level time
    travel for free, mirroring table_as_of_batch on the table side.

    Per batch: one map-side-combinable groupBy over the changelog
    micro-batch (change-cardinality sized) + a full-outer join of two
    group-cardinality relations. Nothing in the hot path scales with
    the base table."""
    from fintech_lakehouse_spark.operators.ivm import (
        apply_agg_delta,
        changelog_agg_delta,
    )

    sum_aliases = list(sum_cols or {})

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        delta = changelog_agg_delta(batch, group_cols, sum_cols)
        return apply_agg_delta(current, delta, group_cols, sum_aliases)

    return _snapshot_sink(view_path, fold)


def foreach_batch_sketch_rollup(
    view_path: str,
    group_cols: list[str],
    key_col: str,
):
    """foreachBatch sink that maintains per-group DISTINCT-COUNT
    SKETCH STATE (HLL + Theta) from a raw event stream — the streaming
    half of the r6 sketch architecture (VERDICT r6 item 8): batch
    queries monthly_unique_users_rollup / monthly_retention_theta
    assume "one small sketch persisted per period, every rollup /
    retention question is sketch algebra on stored state"; this sink
    is the thing that PRODUCES that stored state in production.

    Per micro-batch: one map-side-combinable groupBy over the batch
    (``hll_sketch_agg`` + ``theta_sketch_agg`` of ``key_col``, plus a
    raw row count), then a union + re-aggregate with the previous
    snapshot via ``hll_union_agg`` / ``theta_union_agg``. Both merges
    are associative and order/batching-independent (bucket-max for
    HLL, min-hash-set union for Theta), so the maintained state equals
    a direct aggregate over all events ever seen — the streaming≡batch
    test asserts exact estimate equality, not tolerance. Nothing in
    the hot path scales with history: state is group-cardinality ×
    ~KB-sized sketches.

    Exactly-once snapshotting is :func:`_snapshot_sink`, shared with
    foreach_batch_ivm: versioned ``version=<batch_id>/`` snapshot dirs,
    committed-retry skip, readers take the newest committed version
    (read_materialized_view) — which also yields sketch-state time
    travel (estimate "as of consumer batch N") for free.

    Downstream algebra on the stored state (no raw-event rescan):
    ``hll_union_agg`` across group rows for coarser rollups,
    ``theta_intersection`` across rows for retention/overlap,
    ``theta_difference`` for churn."""

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        partial = batch.groupBy(*group_cols).agg(
            F.hll_sketch_agg(F.col(key_col).cast("string")).alias("hll_sk"),
            F.theta_sketch_agg(F.col(key_col).cast("string")).alias(
                "theta_sk"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
        if current is not None:
            partial = current.select(
                *group_cols, "hll_sk", "theta_sk", "n_rows"
            ).unionByName(partial)
        return partial.groupBy(*group_cols).agg(
            F.hll_union_agg("hll_sk").alias("hll_sk"),
            F.theta_union_agg("theta_sk").alias("theta_sk"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        )

    return _snapshot_sink(view_path, fold)


def foreach_batch_online_dedup(
    state_path: str,
    decisions_path: str,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    compact_every: int = 16,
):
    """foreachBatch ONLINE near-duplicate detection — the streaming
    form of the MinHash-LSH-verify corpus dedup (plans/text.py
    minhash_lsh_pairs lineage): every micro-batch of (doc_id, text)
    documents is fingerprinted, matched against the ACCUMULATED
    fingerprint store, exact-Jaccard-verified, and appended to the
    store — the shape a production ingest dedup runs (new crawl
    snapshots arriving against an existing corpus), where re-running
    the batch pipeline over all history per arrival would be
    quadratic in time.

    Decision contract (deterministic, batch-replayable): doc_ids are
    the arrival order (monotone across batches — the caller's
    contract); a doc is a duplicate iff some EARLIER doc (stored
    corpus or same batch with smaller id) shares an LSH band and
    verifies at exact Jaccard ≥ ``threshold``; ``dup_of`` is the
    smallest such earlier id. Because MinHash signatures are per-doc
    (batch-independent) and the md5 band family is deterministic, the
    streaming decisions EQUAL the batch twin — lsh_band_pairs_md5 +
    verified_jaccard_pairs over the full corpus with min-match
    resolution — which the streaming≡batch test asserts exactly.

    Per batch: fingerprinting is the map-side-combining signature
    shape (shuffle = K·batch_docs); the history probe joins
    batch bands (small) against stored bands on ONE band-hash key —
    at 100 TB the stored band table is partitioned/bucketed by
    band_hash so the probe is index-shaped, and batch bands broadcast.
    Stored TEXT is never rescanned: verification joins the candidate
    pairs against the store's precomputed shingle arrays (see the r9
    note below). State appends are versioned
    ``version=<batch_id>`` dirs with the committed-retry skip
    (exactly-once, :func:`_write_lsm_segment`); decisions land the
    same way so a replayed batch cannot double-emit.

    r9 (VERDICT r8 item 1): state dirs are LSM-managed — per-batch
    writes stay BATCH-sized appends (nothing is ever rewritten
    in-flight), and every ``compact_every`` batches the band/doc
    segments fold once into a ``compact=<id>`` dir so the probe's
    segment count stays bounded at any stream length (the compacted
    band store writes hash-partitioned by ``bb`` = band_hash bucket —
    the 100 TB index-shaped probe prunes on it).

    r9 verify path: the doc store carries PRECOMPUTED shingle arrays
    (``with_shingles`` — the same sets word_shingles derives), so
    verification is one :func:`jaccard_pair_join` of the candidate
    pairs against (batch ∪ stored) shingles: no stored-text rescan, no
    re-shingling, no candidate semi-join stage — the r8 form paid ~3
    extra shuffle stages per micro-batch for work the state already
    contained. The tiny candidate side broadcast-joins under AQE, so
    stored shingles are scanned once and never shuffled. In-sink
    shuffles are sized to micro-batch volume
    (:func:`_sink_shuffle_partitions`)."""
    from fintech_lakehouse_spark.functions.text import (
        band_signatures,
        jaccard_pair_join,
        minhash_signatures_md5,
        with_shingles,
    )

    state_root = state_path.rstrip("/")

    def _bands(sig: DataFrame) -> DataFrame:
        # the SHARED validated band hash (functions/text.py) — the
        # stream≡batch candidate-set guarantee requires this to be the
        # same expression lsh_band_pairs_md5 uses (review finding r7),
        # and band_signatures validates (n_hashes, n_bands) like every
        # banding entry point
        return band_signatures(sig, n_hashes, n_bands).withColumnRenamed(
            "band_sig", "band_hash"
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dec_dir = f"{decisions_path.rstrip('/')}/version={batch_id}"
        if dir_committed(spark, dec_dir):
            return  # replayed committed batch: exactly-once skip
        # the persisted frame is the SHINGLED batch: without the cache
        # each action in this sink (two state writes, decisions)
        # re-reads the batch file AND re-runs the md5 minhash pipeline
        # — the streaming bench measured ~6 engine re-scans per batch
        # (BASELINE §streaming engine_rows column)
        docs = with_shingles(batch_df.select("doc_id", "text"), shingle_n)
        with _sink_shuffle_partitions(spark):
            _run_unless_empty(
                docs, lambda batch: _dedup(spark, batch, batch_id, dec_dir)
            )

    def _dedup(
        spark: SparkSession, batch: DataFrame, batch_id: int, dec_dir: str
    ) -> None:
        sig = minhash_signatures_md5(
            batch.select("doc_id", F.explode("shingles").alias("shingle")),
            n_hashes,
        )
        bands = _bands(sig).persist()
        try:
            stored_bands = _lsm_read(
                spark, f"{state_root}/bands", ["doc_id", "band_hash"]
            )
            stored_sh = _lsm_read(
                spark, f"{state_root}/docs", ["doc_id", "shingles"]
            )
            hist = (
                stored_bands.withColumnRenamed("doc_id", "doc_a")
                .join(
                    F.broadcast(bands.withColumnRenamed("doc_id", "doc_b")),
                    "band_hash",
                )
                # doc_a < doc_b is a no-op in normal operation (stored ids
                # are always smaller under the monotone-arrival contract)
                # but load-bearing on REPLAY: state commits before
                # decisions (see write order below), so a replayed batch
                # finds its own fingerprints in the store and must not
                # match docs against themselves or later arrivals
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                if stored_bands is not None
                else None
            )
            b2 = bands.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "band_hash", "bh"
            )
            within = (
                bands.join(b2, F.col("band_hash") == F.col("bh"))
                .filter(F.col("doc_id") < F.col("doc_b"))
                .select(F.col("doc_id").alias("doc_a"), "doc_b")
            )
            cands = (
                within.unionByName(hist) if hist is not None else within
            ).distinct()
            # verify directly against stored shingle ARRAYS: no stored-text
            # rescan, no re-shingling, no semi-join stage. Replay-window
            # duplicate doc rows (store already holding this batch) only
            # duplicate pair rows, which the min() resolution absorbs.
            sh_all = (
                batch.select("doc_id", "shingles").unionByName(stored_sh)
                if stored_sh is not None
                else batch.select("doc_id", "shingles")
            )
            verified = jaccard_pair_join(cands, sh_all, threshold)
            decisions = (
                batch.join(
                    verified.groupBy("doc_b").agg(
                        F.min("doc_a").alias("dup_of")
                    ),
                    batch["doc_id"] == F.col("doc_b"),
                    "left",
                )
                .select(
                    "doc_id",
                    F.col("dup_of").isNotNull().alias("is_dup"),
                    "dup_of",
                )
            )
            # state commits BEFORE decisions (review finding r7): decisions
            # are the batch's commit point (the early-return above keys on
            # them), so a crash after state but before decisions replays
            # the batch against a store that already holds its fingerprints
            # — harmless because the history probe filters doc_a < doc_b —
            # whereas the reverse order would return early on replay with
            # the state append lost forever, silently shrinking the store.
            # Each state segment is itself idempotent via its dir. A
            # compaction's dropDuplicates guards the replay window where
            # the store already holds this batch; the compacted band store
            # is hash-partitioned by bb so probes prune buckets.
            _write_lsm_segment(
                spark, f"{state_root}/bands", batch_id, compact_every, bands,
                fold=lambda full: full.dropDuplicates(),
                bucket=("bb", F.pmod(F.xxhash64("band_hash"), F.lit(32))),
            )
            _write_lsm_segment(
                spark, f"{state_root}/docs", batch_id, compact_every, batch,
                fold=lambda full: full.dropDuplicates(["doc_id"]),
            )
            decisions.coalesce(1).write.mode("overwrite").parquet(dec_dir)
        finally:
            bands.unpersist()

    return _apply


BM25_TERM_BUCKETS = 16


def _term_bucket_col(col: str):
    """Deterministic term→bucket hash computable on BOTH sides of the
    engine boundary: Spark (this expression) and the Python driver
    (:func:`_term_bucket_py`) must agree so query-time probes can
    enumerate the partitions their terms live in WITHOUT a Spark job.
    md5's first 8 hex digits, mod BM25_TERM_BUCKETS — xxhash64 would be
    cheaper but has no portable driver-side twin."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("long"),
        F.lit(BM25_TERM_BUCKETS),
    )


def _term_bucket_py(term: str) -> int:
    import hashlib

    return (
        int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16)
        % BM25_TERM_BUCKETS
    )


def foreach_batch_bm25_index(
    index_path: str,
    compact_every: int = 16,
):
    """foreachBatch INCREMENTAL SEARCH-INDEX maintenance — the
    streaming producer of the lexical-retrieval state
    plans/text.py::bm25_doc_ranking computes from scratch: per
    micro-batch of (doc_id, text) documents it appends the batch's
    postings (term, doc_id, tf, dl) segment and a 1-row
    (n_docs, total_dl) totals delta as versioned exactly-once dirs.
    An ingest pipeline thus keeps a queryable BM25 index CURRENT
    without ever rescanning indexed documents — the segment-append +
    periodic-merge path every search engine implements.

    LSM shape (r9, VERDICT r8 item 1 — replaces the r8 form that
    re-aggregated and REWROTE the entire vocabulary-sized df table
    every batch): per batch, every write is BATCH-sized (one postings
    segment + one totals row; nothing reads previous state at all).
    Every ``compact_every`` batches the accumulated segments fold once
    into a ``compact=<id>`` snapshot — postings hash-PARTITIONED by
    ``tb`` (md5 term bucket, BM25_TERM_BUCKETS dirs) so query probes
    prune to their terms' buckets, totals to one row — and readers
    switch to (newest compact) ∪ (later deltas), so both per-batch
    write cost AND read-side segment count stay bounded. The df table
    is GONE: df(term) is exactly ``count(*)`` of that term's postings
    rows, so the query probe derives it from the rows it already
    fetched — maintaining it separately was pure rewrite load.

    Query side: :func:`read_bm25_index` scores any term list from the
    maintained state alone; the streaming≡batch test asserts its
    top-20 EQUALS the registry query's output on the same corpus —
    same un-logged idf, same rounding, same tie-break."""
    root = index_path.rstrip("/")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        post_dir, _ = _lsm_segment(f"{root}/postings", batch_id, compact_every)
        if dir_committed(spark, post_dir):
            return  # replayed committed batch: exactly-once skip
        toks = F.split("text", " ")
        # persisted: sized feeds both the postings build and the
        # totals delta — without caching, each action re-reads and
        # re-tokenizes the batch (the bench's engine_rows re-scan
        # diagnostic, BASELINE §streaming)
        sized = batch_df.select(
            "doc_id", toks.alias("toks"), F.size(toks).alias("dl")
        )
        with _sink_shuffle_partitions(spark):
            _run_unless_empty(sized, lambda s: _index(spark, s, batch_id))

    def _index(spark: SparkSession, sized: DataFrame, batch_id: int) -> None:
        postings = sized.select(
            "doc_id", "dl", F.explode("toks").alias("term")
        ).groupBy("term", "doc_id", "dl").agg(
            F.count(F.lit(1)).alias("tf")
        )
        tot_delta = sized.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("total_dl"),
        )
        # totals first, postings last: the postings dir is the batch
        # commit point (the early-return keys on it), so a crash in
        # between replays the batch and the totals write skips via its
        # own committed dir
        _write_lsm_segment(
            spark, f"{root}/totals", batch_id, compact_every, tot_delta,
            fold=lambda full: full.agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_dl").cast("long").alias("total_dl"),
            ),
        )
        _write_lsm_segment(
            spark, f"{root}/postings", batch_id, compact_every, postings,
            bucket=("tb", _term_bucket_col("term")),
        )

    return _apply


def read_bm25_index(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Score ``terms`` against the streaming-maintained BM25 index
    (foreach_batch_bm25_index) — the INDEX-SHAPED probe: compacted
    postings are read with a partition filter on the query terms' md5
    buckets (``tb``), so partition pruning skips every bucket the
    query doesn't touch; delta segments (bounded by compact_every) are
    filtered by term with parquet row-group stats. df(term) is derived
    from the fetched rows themselves (count per term — the postings
    table's own marginal), totals fold from the 1-row delta chain;
    same un-logged idf odds ratio / rounding / tie-break as the batch
    registry query, top-k via TakeOrderedAndProject. Returns
    (doc_id, score, n_terms_matched)."""
    from pyspark.sql.window import Window

    root = index_path.rstrip("/")
    dirs = _lsm_live_dirs(spark, f"{root}/postings")
    if not dirs:
        return None
    term_filter = F.col("term").isin(*terms)
    buckets = sorted({_term_bucket_py(t) for t in terms})
    parts = []
    for d in dirs:
        seg = spark.read.parquet(d)
        if "tb" in seg.columns:  # compacted: bucket partition pruning
            seg = seg.filter(F.col("tb").isin(*buckets))
        parts.append(seg.filter(term_filter).select(
            "term", "doc_id", "dl", "tf"
        ))
    postings = parts[0]
    for s in parts[1:]:
        postings = postings.unionByName(s)
    tot_dirs = _lsm_live_dirs(spark, f"{root}/totals")
    tot = spark.read.parquet(*tot_dirs).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_dl").cast("long").alias("total_dl"),
    )
    # df(term) = number of postings rows for that term — the fetched
    # probe rows already hold it; a window count avoids a second store
    dfed = postings.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    avgdl = F.col("total_dl") / F.col("n_docs")
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    return (
        dfed.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * (F.col("tf") * (k1 + 1.0)) / norm), 4
            ).alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def foreach_batch_drift(view_path: str):
    """foreachBatch sink that maintains the DISTRIBUTION-DRIFT monitor
    state from an order stream — the streaming half of the batch
    ``order_price_drift_tvd`` registry query, the same pairing as
    foreach_batch_sketch_rollup ↔ the sketch rollup queries: the
    monitor a production feature pipeline actually deploys watches a
    STREAM and re-emits the drift verdict per micro-batch, not a
    nightly recompute.

    State per snapshot version: the mergeable (bucket, n_a, n_b)
    fixed-bin period counts (plans/analytics.py::drift_bucket_counts —
    the ONE shared binning definition, so streaming and batch can
    never drift apart in the binning itself). Counts are plain
    associative sums, so per batch the sink computes the batch's
    partial counts (map-side combinable, ≤DRIFT_BINS rows), merges
    with the previous snapshot by addition, and writes the full
    readout (per-bin shares + TVD total row,
    plans/analytics.py::drift_readout) alongside the raw counts.
    Maintained state therefore EQUALS the batch query over all rows
    ever streamed — the streaming≡batch test asserts exact row
    equality, not tolerance.

    Exactly-once snapshotting is :func:`_snapshot_sink`, shared with
    foreach_batch_ivm: versioned ``version=<batch_id>/`` dirs,
    committed-retry skip, readers take the newest committed version —
    drift-verdict time travel ("what did the monitor say as of batch
    N") for free.

    100 TB shape: nothing in the hot path scales with history — state
    is DRIFT_BINS rows; the batch-side cost is one conditional-agg
    scan of the micro-batch."""
    from fintech_lakehouse_spark.plans.analytics import (
        drift_bucket_counts,
        drift_readout,
    )

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        partial = drift_bucket_counts(batch)
        if current is not None:
            # drop the bucket=-1 TVD summary row before merging — its
            # n_a/n_b are the grand totals and would double-count
            partial = (
                current.filter(F.col("bucket") >= 0)
                .select("bucket", "n_a", "n_b")
                .unionByName(partial)
            )
        merged = partial.groupBy("bucket").agg(
            F.sum("n_a").cast("long").alias("n_a"),
            F.sum("n_b").cast("long").alias("n_b"),
        )
        return drift_readout(merged)

    return _snapshot_sink(view_path, fold)


GAP_SCHEMA = (
    "user_id long, n_purchases long, min_gap_ms long,"
    " n_rapid_2h long, review_flag boolean"
)
_GAP_STATE_SCHEMA = "last_us long, min_gap_us long, n long, n_rapid long"


def fold_gap_state(
    state: tuple, us_list: list, rapid_gap_us: int
) -> tuple:
    """Pure fold behind purchase_gap_monitor, factored out so the
    late-batch semantics are unit-testable without a stream:
    ``state`` = (last_us, min_gap_us, n, n_rapid), ``us_list`` = this
    batch's purchase epochs SORTED ascending.

    Gaps come from consecutive pairs of the MERGED sequence
    (stored last epoch ∪ batch events) — r7s3 review wave 2 finding
    #1: checking only the batch's FIRST event against the stored
    epoch dropped the true boundary gap when a batch straddled it
    (late event + new event in one batch) and paired two events the
    stored one sits between. Merging handles in-order, all-late, and
    straddling batches uniformly. Any merged pair that straddles
    UNSEEN processed history (events already folded in earlier
    batches) OVERESTIMATES the true gap, so min_gap/n_rapid are
    conservative under disorder — reordering can suppress a rapid
    flag, never fabricate one; a watermark-buffered variant would
    reorder instead."""
    last_us, min_gap_us, n, n_rapid = state

    def feed(gap):
        nonlocal min_gap_us, n_rapid
        if min_gap_us is None or gap < min_gap_us:
            min_gap_us = gap
        if gap <= rapid_gap_us:
            n_rapid += 1

    if us_list:
        merged = us_list if last_us is None else sorted([last_us, *us_list])
        for a, b in zip(merged, merged[1:]):
            feed(b - a)
        n += len(us_list)
        last_us = merged[-1]
    return last_us, min_gap_us, n, n_rapid


def purchase_gap_monitor(events: DataFrame) -> DataFrame:
    """Streaming twin of the rapid_repeat_purchases velocity screen
    (plans/events.py): per-user repeat-payment state — last purchase
    epoch, lifetime MIN inter-purchase gap, purchase count, rapid-gap
    count — persisted in the state store across micro-batches, so the
    double-charge / card-testing signal fires as the purchases ARRIVE
    instead of in the nightly batch. Thresholds are imported from the
    batch plan, so stream and batch can never disagree on what counts
    as rapid.

    Emits one row per active user per micro-batch with the lifetime
    profile; the last row per user equals the batch
    purchase_gap_profile recomputation for in-order feeds
    (streaming≡batch test). Events sort by event time WITHIN each
    invocation and gaps come from consecutive pairs of the MERGED
    (stored-last ∪ batch) sequence; pairs straddling unseen processed
    history overestimate the true gap, so disorder can only suppress
    a rapid flag, never fabricate one (the fold_gap_state contract —
    unit-tested on the late/straddle/in-order axes).

    Scale shape: state is 4 integers per user with at least one
    purchase; purchases are filtered BEFORE the groupBy so each
    micro-batch shuffles only its purchases on user_id (r7s3 review
    finding #3 — filtering inside the UDF shuffled the whole feed)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from fintech_lakehouse_spark.plans.events import (
        RAPID_FLAG_US,
        RAPID_GAP_US,
    )

    purchases = events.filter(F.col("event_type") == "purchase")

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        rows = pd.concat(batches).sort_values(["ts", "event_id"])
        us_list = (
            rows["ts"].astype("datetime64[us]").astype("int64").to_list()
        )
        prior = state.get if state.exists else (None, None, 0, 0)
        last_us, min_gap_us, n, n_rapid = fold_gap_state(
            prior, us_list, RAPID_GAP_US
        )
        state.update((last_us, min_gap_us, n, n_rapid))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_purchases": [n],
                "min_gap_ms": [
                    None if min_gap_us is None else min_gap_us // 1000
                ],
                "n_rapid_2h": [n_rapid],
                "review_flag": [
                    min_gap_us is not None and min_gap_us <= RAPID_FLAG_US
                ],
            }
        )

    return purchases.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=GAP_SCHEMA,
        stateStructType=_GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
