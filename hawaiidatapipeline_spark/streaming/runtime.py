"""Streaming sources, jobs, and sinks.

Design stance for 100 TB event streams:
- file/object-store source (`readStream` over a landed directory) — the
  SODA-polling analog: an ingester lands JSON/parquet pages, Spark tails
  the directory incrementally;
- every aggregation carries a watermark so state is evicted; without one,
  per-key state grows unboundedly;
- sinks: parquet (append, exactly-once via WAL+manifest), foreachBatch for
  merge/upsert targets, memory only in tests.

Each job function takes and returns DataFrames, so the same code path runs
in batch mode (the twins in queries/events.py) and streaming mode — the
Structured Streaming unification Spark is built around.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hawaiidatapipeline_spark import CACHE_DIR
from hawaiidatapipeline_spark.registry import load_table, normalize_event_time
from hawaiidatapipeline_spark.session import prepare_session

DEFAULT_WATERMARK = "1 hour"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file source over the events table.

    Schema is pinned from the batch read (a streaming source must not infer);
    the nanos→µs conversion mirrors registry.load_table. ``maxFilesPerTrigger``
    keeps micro-batches bounded when a backlog of landed files exists.

    The file source tails a DIRECTORY (the landing zone an ingester appends
    pages into); the single-file fixture is staged into one on first use.
    """
    prepare_session(spark)
    src = os.path.join(sf_dir, "events.parquet")
    landing = os.path.join(CACHE_DIR, "landing_events_" + sf_dir.strip("/").replace("/", "_"))
    staged = os.path.join(landing, "events.parquet")
    # Unconditional re-stage (ADVICE r3 item 3): size/mtime comparison let a
    # regenerated same-size fixture with an equal-or-older mtime (e.g.
    # restored from an archive) keep serving stale data. Staging happens once
    # per stream construction and the fixture is small — just copy.
    os.makedirs(landing, exist_ok=True)
    shutil.copyfile(src, staged)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(landing)
    )
    return normalize_event_time(stream)


# ------------------------------------------------------------------ jobs


def tumbling_counts(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming twin of queries/events.stream_tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "user_id", "n_events", "total_value")
    )


def windowed_type_counts(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Stage 1 of the streaming windowed top-k (batch twin:
    queries/events.stream_topk_window): per-hour per-event-type counts with
    a watermark. Structured Streaming cannot run a rank() window mid-stream
    (non-time window functions are unsupported on streaming DataFrames), so
    the top-k is split: this incremental aggregation carries ALL state —
    one row per (hour, type), bounded by the watermark horizon — and the
    rank runs in the sink over each finalized window (``topk_per_window``
    applied in foreachBatch or post-materialization), where the input per
    window is at most |event types| rows. At 100 TB the heavy shuffle is
    this count; the sink-side rank is metadata-sized."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )


def topk_per_window(counts: DataFrame, k: int = 3) -> DataFrame:
    """Stage 2 of the streaming windowed top-k: deterministic per-window
    rank (count desc, event_type asc ties) and keep rank ≤ k. A plain batch
    transformation — run it in the sink (foreachBatch) or over the
    materialized counts table; never on the unfinished stream."""
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return counts.withColumn("rk", F.rank().over(w)).filter(F.col("rk") <= k)


def session_aggregate(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming twin of queries/events.stream_session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Stateful dedup: first arrival per event_id wins; state for ids older
    than the watermark horizon is evicted (the unbounded-state guard).

    ``dropDuplicatesWithinWatermark`` is the form that actually evicts:
    plain ``dropDuplicates([k])`` without the event-time column in the key
    set keeps every key's state forever, so per-key state grows without
    bound on an infinite stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Enrich the stream with a static dim — supported natively; the static
    side is re-broadcast per micro-batch, no state involved."""
    return events.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        events.user_id == F.col("c_custkey"),
        "left",
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_mktsegment")


def interval_stream_stream_join(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Time-bounded stream-stream join (SURVEY.md §2.C last row): each
    purchase joins clicks of the same user within the preceding ``lookback``.

    Both sides carry watermarks and the join predicate bounds event-time
    distance — that pair of constraints is what lets the state store evict
    buffered rows; an unbounded stream-stream join would hold both streams
    forever. Inner join ⇒ append-mode output.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL {lookback} AND p_ts"
        ),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "p_ts", "click_id", "c_ts")


def interval_stream_stream_left_join(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """LEFT OUTER time-bounded stream-stream join: every purchase emits —
    joined rows as matches arrive, and a NULL-click row once the watermark
    passes the purchase's lookback window and the state store can PROVE no
    match can still arrive (outer results are necessarily late by the
    watermark delay; that's the price of correctness, not a bug). Same
    watermark + event-time-band contract as the inner form — without both,
    unmatched rows could never be finalized and state never evicted."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL {lookback} AND p_ts"
        ),
        "leftOuter",
    ).select(
        "purchase_id", F.col("p_user").alias("user_id"), "p_ts", "click_id", "c_ts"
    )


def streaming_count_min(
    events: DataFrame, key_col: str = "user_id", depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch maintained incrementally over micro-batches.

    The sketch's merge property makes this trivial in Structured
    Streaming: the (i, b) counters ARE the streaming aggregation state,
    and each micro-batch's partial counts merge by addition — exactly the
    map-side combine the batch build uses across partitions. State is
    depth×width rows FOREVER, regardless of stream volume or key
    cardinality: the unbounded-state problem that plain
    ``groupBy(key).count()`` has on a high-cardinality key simply
    disappears. Run in update/complete mode; probe the final counters
    with operators/sketches.py estimates."""
    from hawaiidatapipeline_spark.operators.sketches import cms_bucket_pairs

    pairs = cms_bucket_pairs(events, key_col, depth, width)
    return pairs.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))


def lifetime_counters(events: DataFrame) -> DataFrame:
    """Per-user lifetime counters via ``applyInPandasWithState`` — the custom
    stateful-operator escape hatch (arbitrary per-key state across batches).
    State: (n_events, total_value); no timeout — lifetime semantics."""

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transform_with_state_available() -> bool:
    """``transformWithStateInPandas`` speaks protobuf to its state server;
    the ``protobuf`` package is not in this container (and installs are
    off), so the operator is capability-gated the same way JPEG decode is.
    On a standard cluster image (protobuf ships with most Spark distros)
    the probe passes and the operator runs as-is."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def running_counters_tws(events: DataFrame, allow_fallback: bool = False) -> DataFrame:
    """Per-user lifetime counters via ``transformWithStateInPandas`` — the
    Spark-4 StatefulProcessor API that supersedes ``applyInPandasWithState``
    (same job as ``lifetime_counters`` above, kept side-by-side so both
    stateful tiers stay covered). Differences that matter at scale:
    typed state handles (value/list/map) live in named column families in
    the state store instead of one opaque tuple, state is fetched lazily
    per handle, and timers/TTL are first-class on the handle. Requires the
    RocksDB state-store provider (column-family support) and the protobuf
    package (``transform_with_state_available``).

    ``allow_fallback=True`` degrades to ``lifetime_counters`` (same
    output schema, same per-batch cumulative emissions, same rounding,
    over ``applyInPandasWithState``, which speaks Arrow, not protobuf)
    when protobuf is absent — the operator's CONTRACT stays testable on
    images without the TWS wire dependency, and the strict path still
    runs unchanged wherever protobuf exists."""
    if allow_fallback and not transform_with_state_available():
        return lifetime_counters(events)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class RunningCounters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [StructField("n", LongType()), StructField("total", DoubleType())]
            )
            self._state = handle.getValueState("counters", schema)

        def handleInputRows(self, key, rows, timerValues) -> Iterable[pd.DataFrame]:
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCounters(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def sessionized_counters(events: DataFrame, gap_minutes: int = 30, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Custom session aggregation via ``applyInPandasWithState`` with
    EVENT-TIME TIMEOUT — the state-eviction tier ``lifetime_counters``
    (NoTimeout) doesn't show: a user's session state flushes as a final
    row once the watermark passes last-seen + gap, then is REMOVED. This
    is how a custom stateful operator stays bounded on an infinite
    stream; the built-in ``session_window`` covers plain aggregates, this
    escape hatch covers arbitrary per-session state machines."""
    gap_ms = gap_minutes * 60 * 1000

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            n, total, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "session_value": [round(total, 6)],
                }
            )
            return
        n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            total += float(pdf["value"].sum())
            # exact ns->ms (Timestamp.value is integral ns) — float64
            # .timestamp() truncation can be off by 1ms near boundaries
            last_ms = max(last_ms, pdf["ts"].max().value // 1_000_000)
        state.update((n, total, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        return

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, session_value double",
        stateStructType="n bigint, total double, last_ms bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def funnel_stage_tracker(
    events: DataFrame,
    window_hours: float = 1,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming face of the batch ``events_funnel_windowed`` query: a
    per-user STATE MACHINE tracking first view → first qualifying click
    (strictly after the view, within ``window_hours``) → first
    qualifying purchase (strictly after that click, within the window).
    Each user's final stage (0–3) is emitted exactly once, when the
    event-time timeout fires after the watermark passes their horizon —
    the pattern for "emit a verdict per entity once its episode closes".

    Out-of-order correctness inside the watermark: "first view" is a
    running MIN, so a late-arriving EARLIER view may shift the click
    window earlier. The state therefore retains candidate clicks /
    purchases and re-evaluates qualification only at finalization.
    State is BOUNDED by pruning with the one-direction argument: the
    view anchor only ever decreases, so a click beyond view+W (or a
    purchase beyond view+2W) can never qualify under any future anchor
    and is dropped on every update. For view-less keys the same
    argument runs through the watermark: a future anchoring view must
    carry event time >= the current watermark, and qualification is
    strict (view < click < purchase), so buffered candidates at or
    below the watermark are unreachable and are dropped — the buffers
    stay bounded even for users that never view.

    Exactly-once: the event-time timeout is armed at the EPISODE
    HORIZON — once a view anchor exists, at view + 2W (click window +
    purchase window), not at the last-seen event. Arming at last-seen
    would finalize and remove the state as soon as cross-key skew
    pushes the watermark past a quiet user's last event, then a later
    ON-TIME click inside the still-open funnel window would recreate
    the state and emit a second, contradictory row. The anchor only
    decreases, so the horizon only moves earlier and the timeout never
    under-waits. Replay over a closed input equals the batch funnel
    exactly (tests/test_streaming.py)."""
    win_us = int(window_hours * 3600 * 1_000_000)
    ev = events.select("user_id", "ts", "event_type").withWatermark(
        "ts", watermark
    )

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            view, clicks, purchases = state.get
            state.remove()
            stage = 0
            if view >= 0:
                stage = 1
                qc = [c for c in clicks if view < c <= view + win_us]
                if qc:
                    stage = 2
                    c0 = min(qc)
                    if any(c0 < p <= c0 + win_us for p in purchases):
                        stage = 3
            yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})
            return
        view, clicks, purchases = (
            state.get if state.exists else (-1, [], [])
        )
        clicks, purchases = list(clicks), list(purchases)
        last_us = 0
        for pdf in pdfs:
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                # exact ns->us (Timestamp.value is integral ns); a float64
                # round-trip via .timestamp() has only ~0.25us resolution
                # at 2024+ epochs and can flip the strict boundary checks
                us = ts.value // 1000
                last_us = max(last_us, us)
                if et == "view":
                    view = us if view < 0 else min(view, us)
                elif et == "click":
                    clicks.append(us)
                elif et == "purchase":
                    purchases.append(us)
        wm_us = state.getCurrentWatermarkMs() * 1000
        if view >= 0:  # prune: the anchor only decreases, windows only move earlier
            clicks = [c for c in clicks if c <= view + win_us]
            purchases = [p for p in purchases if p <= view + 2 * win_us]
        else:  # no anchor yet: a future view arrives at >= watermark and
            # must precede (strictly) any qualifying click/purchase, so
            # candidates at/below the watermark can never qualify
            clicks = [c for c in clicks if c > wm_us]
            purchases = [p for p in purchases if p > wm_us]
        state.update((view, sorted(set(clicks)), sorted(set(purchases))))
        if last_us:
            # arm at the episode horizon: with a view anchor the funnel
            # stays admissible until view + 2W (click window + purchase
            # window) — firing at last-seen would double-emit under
            # cross-key event-time skew. Without an anchor, last-seen is
            # the only horizon there is. Either way the timeout must sit
            # strictly above the CURRENT watermark — a batch whose events
            # are already behind it re-arms for the next watermark advance.
            horizon_us = max(last_us, view + 2 * win_us) if view >= 0 else last_us
            state.setTimeoutTimestamp(
                max(horizon_us // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        return

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, stage int",
        stateStructType=(
            "view bigint, clicks array<bigint>, purchases array<bigint>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def late_data_audit(events: DataFrame, threshold: str = "30 minutes"):
    """foreachBatch sink splitting each micro-batch into on-time vs late
    (event time older than the batch's max seen minus threshold) — the
    side-channel audit the watermark silently drops otherwise. Returns the
    writer factory; caller attaches `.foreachBatch(fn)`."""
    audits: list[tuple[int, int, int]] = []

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        # Two jobs over one cached scan (max first — the late predicate needs
        # it — then total+late in ONE conditional aggregation), instead of
        # three uncached passes per trigger.
        batch_df.persist()
        try:
            mx = batch_df.agg(F.max("ts")).collect()[0][0]
            if mx is None:
                return
            row = batch_df.agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(
                    F.when(
                        F.col("ts") < F.lit(mx) - F.expr(f"INTERVAL {threshold}"), 1
                    ).otherwise(0)
                ).alias("late"),
            ).collect()[0]
            audits.append((batch_id, row.total, int(row.late or 0)))
        finally:
            batch_df.unpersist()

    fn.audits = audits  # inspection hook for tests
    return fn


# ------------------------------------------------------------------ state store


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a sink's persisted state from ``path``, or from the
    ``<path>.old`` survivor an interrupted ``_swap_in`` leaves behind;
    None when neither exists (genuinely no state yet — the first
    micro-batch). A dir that exists but fails to read (corrupt or
    partially-written files, transient FS errors) RAISES instead of being
    treated as 'first batch': silently restarting an accumulated-state
    sink from the current batch would lose all prior state while claiming
    an idempotent merge."""
    for p in (path, path + ".old"):
        if os.path.exists(p):
            return spark.read.parquet(p)
    return None


def _swap_in(df: DataFrame, path: str) -> None:
    """Replace the state dir at ``path`` with ``df``, crash-safe: write
    to a temp dir, rename the old target aside to ``<path>.old``, rename
    the temp dir in, and only then drop ``.old``. A failed write never
    clobbers the target, and at every instant one of {path, path.old}
    holds a complete state, so a crash at any point leaves a recoverable
    directory (``_read_state`` and the next batch fall back to ``.old``).
    A plain rmtree-then-rename would have a window where BOTH are gone,
    and a checkpoint-WAL replay against the resulting empty target would
    silently drop every key absent from the replayed batch. ``df`` may
    read ``path`` itself: its write completes before either rename.
    Object stores write a new prefix and repoint a manifest; a table
    format (Delta/Iceberg) turns the swap into a transactional commit."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = path + ".old"
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _start(stream_df: DataFrame, fn, checkpoint: str, trigger: dict | None):
    """Start ``fn`` as the stream's foreachBatch sink. ``trigger=None``
    drains what is available and stops; pass e.g. ``{"processingTime":
    "1 second"}`` for a continuous cadence (latency measured in
    tools/streaming_latency.py)."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _state_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None,
    prepare: Callable[[DataFrame], DataFrame],
    combine: Callable[[DataFrame, DataFrame], DataFrame],
    stamped: bool,
):
    """The exactly-once protocol of every state-keeping foreachBatch
    sink. Per micro-batch: ``batch = prepare(batch_df)``; read the stored
    state (``_read_state``); ``merged = batch`` on the first batch, else
    ``combine(current, batch)``; ``_swap_in(merged, path)``. The merged
    state goes to storage in a distributed write, never through the
    driver.

    ``stamped`` is for folds that are NOT idempotent under replay (sums,
    unions of per-row facts): the state carries a long ``_last_batch``
    stamp, and a batch whose id is <= the stored max is already folded in
    and is skipped — the guard's one scalar read is the only driver
    collect. A target without the column is folded into as it is.
    Idempotent folds (key upsert, distinct-union k-smallest, op_seq
    arbitrated CDC) pass ``stamped=False``: a replayed batch re-merges to
    the same state."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch = prepare(batch_df)
        current = _read_state(batch_df.sparkSession, path)
        if stamped and current is not None and "_last_batch" in current.columns:
            applied = current.agg(F.max("_last_batch")).collect()[0][0]
            if applied is not None and batch_id <= applied:
                return  # replayed batch already folded in
            current = current.drop("_last_batch")
        merged = batch if current is None else combine(current, batch)
        if stamped:
            merged = merged.withColumn("_last_batch", F.lit(batch_id).cast("long"))
        _swap_in(merged, path)

    return _start(stream_df, fold, checkpoint, trigger)


def _k_smallest(hashes: DataFrame, group: str, k: int) -> DataFrame:
    """The k smallest hashes ``h`` per ``group``, as (group, h): a KMV /
    theta synopsis. Applied to the union → distinct of two synopses it is
    their lossless merge (``agg_kmv_merge_proof``)."""
    w = Window.partitionBy(group).orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(group, "h")
    )


def _lww_newest(ops: DataFrame, key: str) -> DataFrame:
    """Last-writer-wins within one CDC batch: the newest op (highest
    op_seq) per key."""
    w = Window.partitionBy(key).orderBy(F.col("op_seq").desc())
    return (
        ops.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _lww_apply(current: DataFrame, newest: DataFrame, key: str) -> DataFrame:
    """Apply a folded CDC batch (``_lww_newest``) to the stored state
    with op_seq arbitration BOTH ways: a current row survives unless the
    batch holds a STRICTLY newer op for its key, and a batch op lands
    only if it is newer than what the state already recorded — on an
    op_seq tie the current row stays. Re-applying an old op is a no-op,
    which makes replayed or out-of-order batches idempotent."""
    batch_seq = newest.select(
        F.col(key).alias("_k"), F.col("op_seq").alias("_new_seq")
    )
    kept = (
        current.join(batch_seq, current[key] == F.col("_k"), "left_outer")
        .filter(F.col("_new_seq").isNull() | (F.col("op_seq") >= F.col("_new_seq")))
        .drop("_k", "_new_seq")
    )
    cur_seq = current.select(
        F.col(key).alias("_k"), F.col("op_seq").alias("_cur_seq")
    )
    landed = (
        newest.join(cur_seq, newest[key] == F.col("_k"), "left_outer")
        .filter(F.col("_cur_seq").isNull() | (F.col("op_seq") > F.col("_cur_seq")))
        .drop("_k", "_cur_seq")
    )
    return kept.unionByName(landed)


# ------------------------------------------------------------------ sinks


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain the stream with availableNow into an in-memory table; returns
    the result DataFrame. Test/dev only — production sinks are parquet
    (append + checkpointLocation) or foreachBatch."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_merge_sink(stream_df: DataFrame, target_path: str, key: str, checkpoint: str):
    """foreachBatch merge/upsert sink: each micro-batch upserts into a
    parquet target — rows whose ``key`` matches are replaced by the batch's
    (last-write-wins within a batch by key), new keys append. This is the
    plain-parquet rewrite of streaming ``MERGE INTO``; with a table format
    (Delta/Iceberg) the body becomes the transactional MERGE and gains
    partition-level rewrites + concurrent-writer safety. Exactly-once comes
    from the checkpoint WAL: a replayed batch re-merges idempotently
    (same keys → same final state). State protocol: ``_state_sink``."""

    def dedup(batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.lit(1))
        return (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def upsert(current: DataFrame, batch: DataFrame) -> DataFrame:
        return current.join(batch.select(key), key, "left_anti").unionByName(batch)

    return _state_sink(
        stream_df, target_path, checkpoint, None, dedup, upsert, stamped=False
    )


def run_aggregate_sink(
    events: DataFrame,
    target_path: str,
    checkpoint: str,
    key: str = "event_type",
    trigger: dict | None = None,
):
    """foreachBatch aggregate-maintenance sink: each micro-batch's PARTIAL
    aggregates (count + exact-decimal sum per key) merge into a stored
    aggregate table — the streaming face of etl_incremental_agg. Unlike
    stateful streaming aggregation (whose state lives in the state store),
    the running aggregate here IS the target table, so any engine can read
    it mid-stream and the state survives checkpoint loss up to one batch.
    Merge cost ∝ batch keys + stored group cardinality, never history.
    Exactly-once (ADVICE r10): sums are not idempotent, so the sink is
    ``_state_sink``-stamped — a replayed batch is skipped instead of
    double-merged."""

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(key).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
        )

    def add(current: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            current.unionByName(batch)
            .groupBy(key)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )

    return _state_sink(
        events, target_path, checkpoint, trigger, partial, add, stamped=True
    )


def classify_late(
    batch_df: DataFrame,
    prior_max: DataFrame | None = None,
    threshold: str = "30 minutes",
    grace: str = "60 minutes",
    key_col: str = "user_id",
    order_col: str | tuple[str, ...] = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key watermark classification shared by the batch twin
    (queries/events.py stream_late_audit) and the streaming side sink
    (run_late_audit_sink): each row is judged against the watermark its
    OWN arrival saw — the running max event time over strictly-earlier
    arrivals of the same key (``order_col`` is the arrival sequence),
    minus ``threshold``. Three-way verdict in ``late_class``:

    - ``on_time``       : ts >= watermark (or first arrival for the key)
    - ``late_accepted`` : within ``grace`` behind the watermark — the rows
      an allowed-lateness window would still fold in
    - ``late_dropped``  : older than watermark − grace — the rows the
      engine silently discards unless a side sink catches them

    ``prior_max`` is the carry-in per-key max from earlier micro-batches
    ((key_col, max_ts) — one row per key, broadcast); with it the verdict
    depends only on the arrival PREFIX, never on where micro-batch
    boundaries fall, which is exactly what makes the streaming replay
    equal the batch twin on any in-order split (equivalence test #31).
    Scale: one per-key ordered window (per-key event counts bound the
    partition) + an optional broadcast join against key-cardinality state.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = batch_df.withColumn("_prev_max", F.max(ts_col).over(w))
    if prior_max is not None:
        pm = prior_max.select(key_col, F.col("max_ts").alias("_state_max"))
        # greatest() skips NULLs, so first-in-batch rows inherit the state
        # max and unseen keys keep their in-batch prefix max
        df = df.join(F.broadcast(pm), key_col, "left").withColumn(
            "_prev_max", F.greatest("_prev_max", "_state_max")
        ).drop("_state_max")
    wm = F.col("_prev_max") - F.expr(f"INTERVAL {threshold}")
    cls = (
        F.when(F.col("_prev_max").isNull() | (F.col(ts_col) >= wm), "on_time")
        .when(F.col(ts_col) >= wm - F.expr(f"INTERVAL {grace}"), "late_accepted")
        .otherwise("late_dropped")
    )
    return df.withColumn("late_class", cls).drop("_prev_max")


def run_late_audit_sink(
    stream_df: DataFrame,
    audit_path: str,
    state_path: str,
    checkpoint: str,
    threshold: str = "30 minutes",
    grace: str = "60 minutes",
    key_col: str = "user_id",
    order_col: str | tuple[str, ...] = "event_id",
    trigger: dict | None = None,
):
    """Late-data audit side sink (SURVEY §2.I "Late-data audit"): each
    micro-batch is classified by ``classify_late`` against the per-key
    watermark carried across batches, then ROUTED — on-time + grace-window
    rows land under ``audit_path``/accepted, watermark-expired rows under
    ``audit_path``/dropped — so the rows a watermarked aggregation would
    silently discard are preserved with their verdict attached.

    Exactly-once shape: each batch writes into ``batch_id=N`` partition
    dirs with overwrite, so a replayed batch rewrites its own partition
    instead of double-appending; the per-key max state merge is a max()
    fold, idempotent under replay by construction. State is read with
    ``_read_state`` and written with ``_swap_in``; routing needs the state
    before the swap, so the batch stays persisted across both.
    Scale: state is one row per key; the routing is a map-side split of
    the already-classified batch — no shuffle beyond the per-key window.
    """

    def route(batch_df: DataFrame, batch_id: int) -> None:
        state = _read_state(batch_df.sparkSession, state_path)
        classified = classify_late(
            batch_df,
            prior_max=state,
            threshold=threshold,
            grace=grace,
            key_col=key_col,
            order_col=order_col,
        ).persist()
        try:
            for name, pred in (
                ("accepted", F.col("late_class") != "late_dropped"),
                ("dropped", F.col("late_class") == "late_dropped"),
            ):
                classified.filter(pred).write.mode("overwrite").parquet(
                    os.path.join(audit_path, name, f"batch_id={batch_id}")
                )
            merged = classified.groupBy(key_col).agg(F.max("ts").alias("max_ts"))
            if state is not None:
                merged = (
                    state.unionByName(merged)
                    .groupBy(key_col)
                    .agg(F.max("max_ts").alias("max_ts"))
                )
            _swap_in(merged, state_path)
        finally:
            classified.unpersist()

    return _start(stream_df, route, checkpoint, trigger)


def run_to_parquet(stream_df: DataFrame, path: str, checkpoint: str):
    """Production file sink: append mode, exactly-once via the checkpoint
    WAL + output manifest. Caller owns trigger cadence."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_cdc_sink(
    stream_df: DataFrame,
    target_path: str,
    key: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """foreachBatch CDC applier — the streaming twin of the batch
    ``etl_cdc_apply`` fold. The stream carries (key, op ∈ I/U/D, op_seq,
    payload); each micro-batch folds to last-writer-wins per key
    (``_lww_newest``), then applies against the target with op_seq
    arbitration BOTH ways (``_lww_apply``). Storing op_seq in the target
    is what makes replayed or out-of-order batches idempotent —
    re-applying an old op is a no-op, which is the property
    checkpoint-WAL replay needs, so the sink is unstamped.
    Tombstones (op='D') are RETAINED in the target (not physically
    removed): a late-arriving older insert must lose the op_seq
    arbitration against the tombstone, or deleted keys resurrect — the
    classic CDC-applier bug. ``read_cdc_target`` filters them on read;
    a compaction pass may drop tombstones older than the source's
    max-lateness window. State protocol and crash-safe swap:
    ``_state_sink`` / ``_swap_in``. A table format upgrades the body to
    MERGE with snapshot isolation."""
    return _state_sink(
        stream_df,
        target_path,
        checkpoint,
        trigger,
        lambda df: _lww_newest(df, key),
        lambda current, batch: _lww_apply(current, batch, key),
        stamped=False,
    )


def read_cdc_target(spark: SparkSession, target_path: str) -> DataFrame:
    """Live view over a run_cdc_sink target: retained tombstones filtered
    out, bookkeeping columns dropped. Falls back to ``<target>.old`` if
    the main dir is momentarily absent mid-swap (see ``_swap_in``)."""
    df = _read_state(spark, target_path)
    if df is None:
        raise FileNotFoundError(
            f"no CDC target at {target_path} (or its .old swap survivor)"
        )
    return df.filter(F.col("op") != "D").drop("op")


def rate_limited_counters(
    events: DataFrame,
    cap: int = 2,
    lateness_hours: int = 3,
    idle_timeout_min: int = 30,
) -> DataFrame:
    """Streaming per-key rate limiter via ``applyInPandasWithState`` —
    the stateful twin of the batch ``events_rate_limit`` query: at most
    ``cap`` events pass per (user, event-time hour); the rest count as
    dropped. Per-key state is the cumulative (kept, dropped) plus a
    SMALL bounded dict of recent per-hour admit counts — the last
    ``lateness_hours`` hour buckets behind the newest hour seen for the
    key. Out-of-order events landing in a still-tracked bucket are
    arbitrated against that bucket's own count (no reset — an A,B,A
    hour interleave cannot re-admit ``cap`` per contiguous run); events
    older than the lateness window are counted as DROPPED (their
    bucket's count is gone, and never over-admitting is the
    conservative direction for a rate limiter). Hour buckets older than
    the window are evicted whenever the newest hour advances, and whole
    per-user states are evicted after ``idle_timeout_min`` without
    traffic via a processing-time timeout — both bounds are what keep
    state finite on an infinite stream with unbounded user cardinality.
    Update mode: each batch emits the key's refreshed cumulative
    totals."""
    hour_span_ms = 3600 * 1000
    window_ms = lateness_hours * hour_span_ms

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            kept, dropped, hours, counts = state.get
            buckets = dict(zip(hours, counts))
        else:
            kept, dropped, buckets = 0, 0, {}
        max_hour = max(buckets) if buckets else -1
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                hour_ms = int(ts.timestamp() // 3600) * hour_span_ms
                if hour_ms > max_hour:
                    max_hour = hour_ms
                    buckets = {
                        h: c
                        for h, c in buckets.items()
                        if h >= max_hour - window_ms
                    }
                elif hour_ms < max_hour - window_ms:
                    dropped += 1  # beyond lateness: bucket gone, never over-admit
                    continue
                n = buckets.get(hour_ms, 0) + 1
                buckets[hour_ms] = n
                if n <= cap:
                    kept += 1
                else:
                    dropped += 1
        hrs = sorted(buckets)
        state.update((kept, dropped, hrs, [buckets[h] for h in hrs]))
        state.setTimeoutDuration(idle_timeout_min * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "kept": [kept], "dropped": [dropped]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, kept bigint, dropped bigint",
        stateStructType=(
            "kept bigint, dropped bigint, "
            "hours array<bigint>, counts array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def compact_cdc_target(
    spark: SparkSession, target_path: str, tombstone_horizon_seq: int
) -> dict:
    """Tombstone compaction for a ``run_cdc_sink`` target — the
    maintenance pass its docstring promises: tombstones (op='D') are
    retained at apply time so late older inserts lose the op_seq
    arbitration, but once the SOURCE can no longer emit ops older than
    ``tombstone_horizon_seq`` (its max-lateness watermark, expressed as
    an op_seq floor) those tombstones are dead weight — every future op
    for the key must carry a newer seq and wins with or without them.
    Live rows are NEVER dropped regardless of age.

    Writes through ``_swap_in``, so compaction can run between (not
    during) sink triggers without a visibility gap. Returns
    {"dropped": n_tombstones_removed, "kept": rows_remaining}."""
    current = _read_state(spark, target_path)
    if current is None:
        raise FileNotFoundError(
            f"no CDC target at {target_path} (or its .old swap survivor)"
        )
    keep = current.filter(
        (F.col("op") != "D") | (F.col("op_seq") >= tombstone_horizon_seq)
    )
    n_before = current.count()
    _swap_in(keep, target_path)
    n_after = spark.read.parquet(target_path).count()
    return {"dropped": n_before - n_after, "kept": n_after}


def run_kmv_sink(
    events: DataFrame,
    target_path: str,
    checkpoint: str,
    k: int = 32,
    trigger: dict | None = None,
):
    """foreachBatch KMV-synopsis maintenance sink: each micro-batch
    contributes its per-window k-smallest distinct portable user-hashes,
    which merge into the stored synopsis by union → distinct → re-take-k
    — the merge that ``agg_kmv_merge_proof`` proves LOSSLESS, so the
    drained synopsis equals the one a batch pass builds
    (queries/sketches_extra.ts_window_distinct_kmv is the checked twin).
    This is the streaming answer to windowed COUNT DISTINCT: per open
    window the stored state is ≤ k hashes (k·8 bytes), not the full id
    set, and late arrivals within the replay horizon merge idempotently
    (a replayed batch re-unions the same hashes — distinct absorbs it,
    so the sink is unstamped in ``_state_sink``).
    Estimates are derived FROM the synopsis at read time with the same
    (k−1)·2^60/h_k closed form; windows with < k hashes are exact."""
    from hawaiidatapipeline_spark.operators.dedup import portable_hash64

    def synopsis(df: DataFrame) -> DataFrame:
        hashed = df.select(
            F.floor(F.unix_micros("ts") / 21600000000)
            .cast("long")
            .alias("w"),
            portable_hash64(F.col("user_id").cast("string"), 7).alias("h"),
        ).distinct()
        return _k_smallest(hashed, "w", k)

    return _state_sink(
        events,
        target_path,
        checkpoint,
        trigger,
        synopsis,
        lambda current, batch: _k_smallest(
            current.unionByName(batch).distinct(), "w", k
        ),
        stamped=False,
    )


def _stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Incremental file source over one fixture table. Schema pinned from
    the batch read; the table is staged as a 4-way split and read with
    ``maxFilesPerTrigger=1``, which forces multiple micro-batches out of
    the single-file fixture so the sinks' merge paths actually run."""
    prepare_session(spark)
    landing = os.path.join(
        CACHE_DIR, f"landing_{table}_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(landing, ignore_errors=True)
    batch = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    batch.repartition(4).write.mode("overwrite").parquet(landing)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file source over the documents table — the corpus
    landing zone a crawler appends into (``_stream_table``)."""
    return _stream_table(spark, sf_dir, "documents")


def run_dsir_model_sink(
    docs: DataFrame,
    target_path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """foreachBatch DSIR λ-model maintenance sink — the streaming twin of
    the llm_dsir_weights model build (VERDICT r11 #8: the last batch-only
    stage in the curation stack). Each micro-batch contributes its hashed
    uni+bigram bucket counters (f, cr, ct) via the SAME featurizer the
    batch path uses (queries/selection_extra._dsir_doc_buckets →
    _dsir_bucket_model); counters are pure sums, so partial models from
    disjoint document batches merge by adding — mergeable by construction,
    the KMV/CMS-sink discipline. Stored state is ≤ B = 256 rows at ANY
    corpus size; λ (and document scores) are derived FROM the counters at
    read time (``dsir_model_lambda``), so the drained model scores every
    document exactly as a single batch pass would (equivalence test #33).
    Exactly-once: counter sums are NOT idempotent under replay (unlike
    the union/distinct sinks), so the sink is ``_state_sink``-stamped, as
    run_aggregate_sink is."""
    from hawaiidatapipeline_spark.queries.selection_extra import (
        _dsir_bucket_model,
        _dsir_doc_buckets,
    )

    def add(current: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            current.unionByName(batch)
            .groupBy("f")
            .agg(F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))
        )

    return _state_sink(
        docs,
        target_path,
        checkpoint,
        trigger,
        lambda df: _dsir_bucket_model(_dsir_doc_buckets(df)),
        add,
        stamped=True,
    )


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file source over the orders table — the upstream a
    CDC feed replays (``_stream_table``)."""
    return _stream_table(spark, sf_dir, "orders")


def run_cdc_apply_sink(
    orders: DataFrame,
    target_path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """foreachBatch CDC-apply sink — the streaming twin of
    ``etl_cdc_apply`` (Debezium-style change-feed materialization): each
    micro-batch derives its slice of the op log (I/U/D with op_seq, the
    SAME deterministic derivation as the batch key) and folds it into
    the keyed state table by LAST-WRITER-WINS on op_seq — the same
    ``_lww_newest`` / ``_lww_apply`` fold as run_cdc_sink — so one row
    per key survives each merge, and state is bounded by live keys,
    never by ops applied. TOMBSTONES STAY IN STATE (a delete row
    is kept, not dropped): dropping them would let a late/replayed
    lower-seq op resurrect a deleted key; the read view
    (``cdc_live_view``) filters them. Exactly-once: LWW on op_seq makes
    re-applying the same ops a no-op by construction, and the
    ``_state_sink`` stamp short-circuits whole-batch replays. The
    drained state equals the one-pass batch fold (equivalence test
    #35). At 100 TB: state merge is one shuffle on the key per batch —
    the MERGE-free CDC shape of the batch twin, incrementalized."""

    def ops_of(batch_df: DataFrame) -> DataFrame:
        inserts = batch_df.select(
            F.col("o_orderkey").alias("key"),
            F.lit(1).alias("op_seq"),
            F.lit("I").alias("op"),
            F.col("o_totalprice").alias("price"),
        )
        updates = batch_df.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("key"),
            F.lit(2).alias("op_seq"),
            F.lit("U").alias("op"),
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.2").cast("decimal(2,1)")
            ).cast("double").alias("price"),
        )
        deletes = batch_df.filter(F.col("o_orderkey") % 13 == 0).select(
            F.col("o_orderkey").alias("key"),
            F.lit(3).alias("op_seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("price"),
        )
        return inserts.unionByName(updates).unionByName(deletes)

    return _state_sink(
        orders,
        target_path,
        checkpoint,
        trigger,
        lambda df: _lww_newest(ops_of(df), "key"),
        lambda current, batch: _lww_apply(current, batch, "key"),
        stamped=True,
    )


def cdc_live_view(state: DataFrame) -> DataFrame:
    """Read-time live-table view over a CDC-apply state table: drop the
    tombstones (they are retained in state so replays cannot resurrect
    deleted keys) and the bookkeeping columns."""
    return (
        state.filter(F.col("op") != "D")
        .drop("_last_batch")
        .select("key", "op_seq", "op", "price")
    )


def run_classifier_model_sink(
    docs: DataFrame,
    target_path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """foreachBatch quality-classifier FEATURE-STORE sink — the streaming
    twin of the llm_quality_classifier_train stage (VERDICT r12 #6: the
    round-12 logistic gate was batch-only). The featurizer
    (queries/round12_extra._qc_featurize — hashed uni+bigram bucket
    counts plus the marker-density label) is a pure per-document map, so
    each micro-batch's feature rows are computed independently and UNION
    into the store; disjoint batches reconstruct exactly the one-pass
    featurization. Unlike the DSIR sink's <= B-row counters, logistic GD
    has NO finite sufficient statistic (the sigmoid is per-document), so
    the honest streaming design is the production one: stream-featurize
    into a train-ready store (O(docs x <=B) rows — ~256 ints/doc, a
    compressed sketch of the corpus vs full text) and derive the model
    from the store at read time (``classifier_training_curve``), exactly
    as dsir_model_lambda derives λ. The drained store trains to
    bit-identical weights/curve as the batch twin (equivalence test #34).

    Storage layout: feature rows (doc_id, f in [0, B), c = count) and one
    label row per doc (f = -2, c = y, source set). Exactly-once: per-doc
    rows would duplicate under replay, so the sink is
    ``_state_sink``-stamped, as run_aggregate_sink is. At 100 TB the
    rewrite-per-batch becomes append-a-partition-per-batch with the same
    stamp discipline — noted in SCALE.md; the fixture exercises the
    merge path."""
    from hawaiidatapipeline_spark.queries.round12_extra import _qc_featurize

    def features(df: DataFrame) -> DataFrame:
        docf, lab = _qc_featurize(df)
        return docf.select(
            "doc_id",
            "f",
            "c",
            F.lit(None).cast("string").alias("source"),
        ).unionByName(
            lab.select(
                "doc_id",
                F.lit(-2).cast("long").alias("f"),
                F.col("y").cast("long").alias("c"),
                "source",
            )
        )

    return _state_sink(
        docs,
        target_path,
        checkpoint,
        trigger,
        features,
        lambda current, batch: current.unionByName(batch),
        stamped=True,
    )


def classifier_training_curve(store: DataFrame) -> DataFrame:
    """Read-time model derivation over a drained classifier feature store
    (run_classifier_model_sink layout): reconstructs (docf, lab) and runs
    the SAME 3-round integer-fixed-point GD as the batch twin
    (queries/round12_extra._qc_train_from), returning the per-round
    accuracy curve frame — identical arithmetic, identical schema."""
    from hawaiidatapipeline_spark.queries.round12_extra import (
        _qc_curve,
        _qc_train_from,
    )

    store = store.drop("_last_batch")
    docf = store.filter(F.col("f") >= 0).select("doc_id", "f", "c")
    lab = store.filter(F.col("f") == -2).select(
        "doc_id", "source", F.col("c").cast("int").alias("y")
    )
    spark = store.sparkSession
    _, _, _, _, acc = _qc_train_from(spark, docf, lab)
    return _qc_curve(spark, acc)


def dsir_model_lambda(model: DataFrame) -> DataFrame:
    """Read-time λ derivation over a stored DSIR model table (f, cr, ct)
    — identical arithmetic to the batch twin's _dsir_lambda."""
    from hawaiidatapipeline_spark.queries.selection_extra import _dsir_lambda

    return _dsir_lambda(model.drop("_last_batch"))


def kmv_estimates(synopsis: DataFrame, k: int = 32) -> DataFrame:
    """Read-time estimator over a stored KMV synopsis table (w, h):
    per window, (k−1)·2^60/h_k when the synopsis is full, exact count
    of hashes otherwise — identical arithmetic to the batch twin."""
    wk = Window.partitionBy("w").orderBy("h")
    wa = Window.partitionBy("w")
    ranked = synopsis.select(
        "w",
        "h",
        F.row_number().over(wk).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("nd"),
    )
    kth = ranked.filter(
        (F.col("rn") == k) | ((F.col("nd") < k) & (F.col("rn") == F.col("nd")))
    )
    est = F.when(F.col("nd") < k, F.col("nd").cast("double")).otherwise(
        F.round(
            F.lit(float(k - 1)) * F.lit(1152921504606846976.0) / F.col("h"), 6
        )
    )
    return kth.select(
        F.col("w").alias("window_id"), est.alias("est_distinct")
    )


def run_theta_sink(
    orders: DataFrame,
    target_path: str,
    checkpoint: str,
    k: int = 64,
    trigger: dict | None = None,
):
    """foreachBatch theta-sketch maintenance sink: each micro-batch of
    orders contributes its per-AUDIENCE k-smallest distinct customer
    hashes (audience 'a' = urgent/high priority, 'b' = totalprice >
    250k — the `agg_theta_sketch_setops` audiences), merged into the
    stored per-tag synopsis by union → distinct → re-take-k — the same
    lossless KMV merge `agg_kmv_merge_proof` proves, so after the
    stream drains the stored sketches equal the batch pass's and the
    derived set-operation estimates match the checked batch twin row
    for row (equivalence test #36). State: ≤ k hashes per audience at
    any stream length; replayed batches re-union the same hashes
    (idempotent, so the sink is unstamped in ``_state_sink``). Set
    algebra (union/intersection/a-not-b under a common theta) is
    derived FROM the synopses at read time by :func:`theta_setops` —
    the streaming answer to 'how big is the audience overlap' without
    storing either audience."""
    from hawaiidatapipeline_spark.operators.dedup import portable_hash64

    def synopsis(df: DataFrame) -> DataFrame:
        h = portable_hash64(F.col("o_custkey").cast("string"), 11)
        tagged = (
            df.select(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "a"
                ).alias("tag"),
                h.alias("h"),
            )
            .filter(F.col("tag").isNotNull())
            .unionByName(
                df.filter(F.col("o_totalprice") > 250000).select(
                    F.lit("b").alias("tag"), h.alias("h")
                )
            )
            .distinct()
        )
        return _k_smallest(tagged, "tag", k)

    return _state_sink(
        orders,
        target_path,
        checkpoint,
        trigger,
        synopsis,
        lambda current, batch: _k_smallest(
            current.unionByName(batch).distinct(), "tag", k
        ),
        stamped=False,
    )


def theta_setops(synopsis: DataFrame, k: int = 64) -> DataFrame:
    """Read-time theta set algebra over a stored per-tag synopsis
    (tag, h): theta = min of per-tag k-th hashes (2^60 for short
    synopses), retained = synopsis hashes below theta, then
    union/intersection/a-not-b counts scaled by 2^60/theta — identical
    arithmetic to the batch twin `agg_theta_sketch_setops` (minus its
    exact-cardinality audit leg, which needs the raw stream)."""
    H = 1152921504606846976
    wk = Window.partitionBy("tag").orderBy("h")
    wa = Window.partitionBy("tag")
    ranked = synopsis.select(
        "tag",
        "h",
        F.row_number().over(wk).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("nd"),
    )
    kth = (
        ranked.filter(F.col("rn") == k)
        .groupBy("tag")
        .agg(F.max("h").alias("t"))
    )
    full = ranked.select("tag").distinct().join(kth, "tag", "left").select(
        "tag", F.coalesce("t", F.lit(H)).cast("long").alias("t")
    )
    theta = full.agg(F.min("t").cast("long").alias("theta"))
    r = (
        ranked.crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .select("tag", "h")
    )
    ra = r.filter(F.col("tag") == "a").select("h")
    rb = r.filter(F.col("tag") == "b").select("h")

    def cnt(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count(F.lit(1)).cast("long").alias("retained"),
        ).select("op", "retained")

    ops = (
        cnt(ra.union(rb).distinct(), "union")
        .unionByName(cnt(ra.intersect(rb), "intersect"))
        .unionByName(cnt(ra.exceptAll(rb).distinct(), "a_not_b"))
    )
    return (
        ops.crossJoin(F.broadcast(theta))
        .select(
            "op",
            "retained",
            "theta",
            F.round(
                F.col("retained") * float(H) / F.col("theta"), 6
            ).alias("est_distinct"),
        )
        .orderBy("op")
    )


def run_decay_sink(
    events: DataFrame,
    target_path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """foreachBatch decayed-counter state maintenance: each micro-batch
    contributes per-(event_type, day) counts, merged into the stored
    frame by key-summed addition — the (type × calendar)-grain state
    that lets `decay_estimates` derive the EXACT `agg_decay_counters`
    table at read time for ANY half-life and ANY anchor (the dyadic
    2^(−age/h) weights depend only on (day, T), so decayed sums are a
    deterministic function of this state — no weight is baked in at
    write time, the policy lives at read time like the VAD/scene-cut
    thresholds). Replay safety: counts are summed, so the sink is
    ``_state_sink``-stamped and a replayed batch id is summed once. State
    is bounded by types × days-of-history, never event count."""
    def day_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "event_type",
                F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
                .cast("long")
                .alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def add(current: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            current.unionByName(batch)
            .groupBy("event_type", "day")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    return _state_sink(
        events, target_path, checkpoint, trigger, day_counts, add, stamped=True
    )


def decay_estimates(state: DataFrame, halves=(7, 30)) -> DataFrame:
    """Read-time decayed-counter derivation over the stored
    (event_type, day, n) state: anchor T = max stored day, weight =
    1e6 >> (age // h) — bit-identical arithmetic to the batch twin
    `agg_decay_counters` (equivalence test #37)."""
    h7, h30 = halves
    mx = state.agg(F.max("day").cast("long").alias("t"))
    return (
        state.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum(
                F.col("n")
                * F.expr(
                    f"shiftright(1000000, cast((t - day) div {h7} as int))"
                )
            )
            .cast("long")
            .alias("decayed_h7_micro"),
            F.sum(
                F.col("n")
                * F.expr(
                    f"shiftright(1000000, cast((t - day) div {h30} as int))"
                )
            )
            .cast("long")
            .alias("decayed_h30_micro"),
            F.expr(
                f"sum(n * shiftright(1000000, cast((t - day) div {h7} as int)))"
                " div sum(n)"
            )
            .cast("long")
            .alias("mean_weight_h7_micro"),
        )
        .orderBy("event_type")
    )
