"""Streaming-equivalence layer (SURVEY.md §5.2 item 4): each streaming job
replayed over the closed sf0.001 events input must equal its batch twin."""

import pytest
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.queries import events as batch_twins
from hawaiidatapipeline_spark.registry import load_table
from hawaiidatapipeline_spark.streaming import runtime

from .conftest import SF0001


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark):
    stream = runtime.tumbling_counts(runtime.stream_events(spark, SF0001))
    got = runtime.run_to_memory(stream, "t_tumbling")
    want = batch_twins.stream_tumbling(spark, SF0001)
    cols = ["win_start", "user_id", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_windowed_topk_equals_batch(spark):
    """Two-stage windowed top-k: streaming watermarked counts drained to a
    table, then the SAME sink-side rank the batch twin uses — outputs must
    be identical, including rank ties."""
    counts = runtime.windowed_type_counts(runtime.stream_events(spark, SF0001))
    got = runtime.topk_per_window(runtime.run_to_memory(counts, "t_topk"), k=3)
    want = batch_twins.stream_topk_window(spark, SF0001)
    cols = ["win_start", "event_type", "n_events", "rk"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_session_equals_batch(spark):
    stream = runtime.session_aggregate(runtime.stream_events(spark, SF0001))
    got = runtime.run_to_memory(stream, "t_session")
    want = batch_twins.stream_session(spark, SF0001)
    cols = ["user_id", "session_start", "session_end", "n_events", "session_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_dedup_keeps_unique_ids(spark):
    stream = runtime.dedup_events(runtime.stream_events(spark, SF0001))
    got = runtime.run_to_memory(stream, "t_dedup", output_mode="append")
    batch = load_table(spark, SF0001, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stream_static_join(spark):
    customer = load_table(spark, SF0001, "customer")
    stream = runtime.stream_static_join(runtime.stream_events(spark, SF0001), customer)
    got = runtime.run_to_memory(stream, "t_enrich", output_mode="append")
    assert got.count() == load_table(spark, SF0001, "events").count()
    # users that exist in customer got a segment
    n_matched = got.filter(F.col("c_mktsegment").isNotNull()).count()
    assert n_matched > 0


def test_stream_static_enrich_equals_batch(spark):
    """Full equivalence for the stream-static enrichment join: the
    streamed per-micro-batch join drained to a table, rolled up with the
    SAME segment×type aggregation, must equal the E-checked batch twin
    row-for-row (including the UNMATCHED left-outer bucket)."""
    customer = load_table(spark, SF0001, "customer")
    stream = runtime.stream_static_join(runtime.stream_events(spark, SF0001), customer)
    drained = runtime.run_to_memory(stream, "t_enrich_eq", output_mode="append")
    got = drained.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNMATCHED")).alias("segment"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
    want = batch_twins.stream_static_enrich(spark, SF0001)
    cols = ["segment", "event_type", "n_events", "value_cents"]
    assert _rows(got, cols) == _rows(want, cols)


def test_interval_stream_stream_join_equals_batch(spark):
    src = runtime.stream_events(spark, SF0001)
    purchases = src.filter(F.col("event_type") == "purchase")
    clicks = src.filter(F.col("event_type") == "click")
    joined = runtime.interval_stream_stream_join(purchases, clicks, "10 minutes")
    got = runtime.run_to_memory(joined, "t_interval", output_mode="append")

    batch = load_table(spark, SF0001, "events")
    bp = batch.filter(F.col("event_type") == "purchase")
    bc = batch.filter(F.col("event_type") == "click")
    want = bp.alias("p").join(
        bc.alias("c"),
        F.expr(
            "p.user_id = c.user_id AND c.ts BETWEEN p.ts - INTERVAL 10 minutes AND p.ts"
        ),
    )
    assert got.count() == want.count()
    assert got.count() > 0


def test_lifetime_counters_match_batch_aggregate(spark):
    stream = runtime.lifetime_counters(runtime.stream_events(spark, SF0001))
    got = runtime.run_to_memory(stream, "t_counters", output_mode="update")
    # update mode may emit a row per user per batch; the LAST per user is the total
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    want = (
        load_table(spark, SF0001, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(final, cols) == _rows(want, cols)


def test_transform_with_state_counters_match_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark-4 StatefulProcessor) must agree
    with the batch aggregate over the closed input — same invariant as the
    applyInPandasWithState tier, newer API. Where protobuf exists the
    strict TWS path runs (with the RocksDB provider — typed state handles
    live in named column families); on this container the operator's
    documented protobuf-free fallback tier runs instead, so the CONTRACT
    (schema + cumulative semantics) is exercised either way."""
    strict = runtime.transform_with_state_available()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if strict:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    try:
        stream = runtime.running_counters_tws(
            runtime.stream_events(spark, SF0001), allow_fallback=True
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("t_tws")
        final = got.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        want = (
            load_table(spark, SF0001, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
        )
        cols = ["user_id", "n_events", "total_value"]
        assert _rows(final, cols) == _rows(want, cols)
    finally:
        if strict:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )


def test_sessionized_counters_event_time_timeout(spark, tmp_path):
    """Custom stateful op with EventTimeTimeout: sessions flush as final
    rows once the watermark (advanced by a later micro-batch) passes
    last-seen + gap, and their state is removed — bounded state for an
    arbitrary per-session state machine."""
    import time

    landing = tmp_path / "sess_landing"
    landing.mkdir()
    # batch 0: users 1,2 each 3 events around t0; batch 1 (3h later): user 3
    # only — its watermark closes users 1 and 2's sessions
    spark.createDataFrame(
        [(u, "2025-01-01 00:0%d:00" % i, 1.5) for u in (1, 2) for i in range(3)],
        "user_id bigint, ts_s string, value double",
    ).selectExpr("user_id", "cast(ts_s as timestamp) ts", "value").coalesce(
        1
    ).write.parquet(str(landing / "b0"))
    time.sleep(1.1)
    spark.createDataFrame(
        [(3, "2025-01-01 03:00:00", 9.0)],
        "user_id bigint, ts_s string, value double",
    ).selectExpr("user_id", "cast(ts_s as timestamp) ts", "value").coalesce(
        1
    ).write.parquet(str(landing / "b1"))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "b*"))
    )
    sessions = runtime.sessionized_counters(
        stream.withWatermark("ts", "10 minutes"), gap_minutes=30
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r for r in spark.table("t_sessions").collect()}
    assert set(got) == {1, 2}  # user 3's session is still open (no later batch)
    for u in (1, 2):
        assert got[u].n_events == 3 and abs(got[u].session_value - 4.5) < 1e-9


def test_merge_sink_upserts_across_batches(spark, tmp_path):
    """foreachBatch merge sink: keys arriving in later micro-batches replace
    earlier versions in the parquet target; new keys append."""
    import time

    landing = tmp_path / "merge_landing"
    landing.mkdir()
    # batch 0: keys 0..9 v=1; batch 1: keys 5..14 v=2 (5..9 upserted)
    spark.createDataFrame(
        [(k, 1) for k in range(10)], "k bigint, v int"
    ).coalesce(1).write.parquet(str(landing / "b0"))
    time.sleep(1.1)
    spark.createDataFrame(
        [(k, 2) for k in range(5, 15)], "k bigint, v int"
    ).coalesce(1).write.parquet(str(landing / "b1"))

    stream = (
        spark.readStream.schema("k bigint, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "b*"))
    )
    target = str(tmp_path / "merge_target")
    q = runtime.run_merge_sink(stream, target, "k", str(tmp_path / "merge_ckpt"))
    q.awaitTermination()
    final = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert final == {**{k: 1 for k in range(5)}, **{k: 2 for k in range(5, 15)}}


def test_dedup_state_evicts_with_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark must EVICT state for ids older than
    the watermark horizon — the guard that keeps per-key state bounded on
    an infinite stream (plain dropDuplicates on a non-time key holds every
    key forever). Four micro-batches an hour apart with a 30-minute
    watermark: by the last batch, keys from the first batches must be gone
    from the state store."""
    import time

    landing = tmp_path / "landing"
    landing.mkdir()
    n_per_batch, n_batches = 100, 4
    for k in range(n_batches):
        df = spark.range(k * n_per_batch, (k + 1) * n_per_batch).select(
            F.col("id").alias("event_id"),
            (
                F.lit("2025-01-01 00:00:00").cast("timestamp")
                + F.expr(f"INTERVAL {k} HOURS")
                + F.make_interval(secs=F.col("id") % 60)
            ).alias("ts"),
        )
        df.coalesce(1).write.parquet(str(landing / f"batch_{k}"))
        time.sleep(1.1)  # distinct mtimes -> file source processes in order

    schema = "event_id bigint, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "batch_*"))
    )
    deduped = runtime.dedup_events(stream, watermark="30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("t_dedup_evict").count() == n_per_batch * n_batches
    state_rows = [
        p.stateOperators[0].numRowsTotal
        for p in q.recentProgress
        if p.stateOperators
    ]
    assert len(state_rows) >= n_batches
    # eviction bound: at most ~2 batches of keys live at once; without
    # eviction the final state would hold all 400 keys
    assert state_rows[-1] <= 2 * n_per_batch, state_rows


def test_stateful_agg_on_rocksdb_state_store(spark, tmp_path):
    """The large-state backend: HDFSBackedStateStore holds state in executor
    heap (fine for fixtures, an OOM at 100 TB of keys); RocksDB spills to
    local disk. The same tumbling aggregation must produce identical results
    under the RocksDB provider — proving the engine's stateful ops are
    backend-agnostic."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = runtime.tumbling_counts(runtime.stream_events(spark, SF0001))
        q = (
            stream.writeStream.format("memory")
            .queryName("t_tumbling_rocks")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("t_tumbling_rocks")
        want = batch_twins.stream_tumbling(spark, SF0001)
        cols = ["win_start", "user_id", "n_events", "total_value"]
        assert _rows(got, cols) == _rows(want, cols)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_late_data_audit_counts(spark, tmp_path):
    """The foreachBatch audit must account for every row (on-time + late ==
    batch size) and flag rows older than the threshold within each batch."""
    stream = runtime.stream_events(spark, SF0001)
    fn = runtime.late_data_audit(stream, threshold="30 minutes")
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total_events = load_table(spark, SF0001, "events").count()
    assert fn.audits, "no batches audited"
    assert sum(n for _, n, _ in fn.audits) == total_events
    for batch_id, n, late in fn.audits:
        assert 0 <= late <= n, (batch_id, n, late)
    # sf0.001 spans a month at second granularity: every batch that carries
    # more than a sliver of the file must contain >30-min-old rows.
    biggest = max(fn.audits, key=lambda a: a[1])
    assert biggest[2] > 0


def test_streaming_count_min_equals_batch_sketch(spark):
    """The CMS counters built incrementally over micro-batches must equal
    the batch-built sketch over the same closed input — the merge
    property that keeps streaming heavy-hitter state at depth x width
    rows forever."""
    from hawaiidatapipeline_spark.operators.sketches import cms_bucket_pairs

    stream = runtime.streaming_count_min(runtime.stream_events(spark, SF0001))
    got = runtime.run_to_memory(stream, "t_cms", output_mode="complete")
    batch = (
        cms_bucket_pairs(load_table(spark, SF0001, "events"), "user_id")
        .groupBy("i", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert _rows(got, ["i", "b", "c"]) == _rows(batch, ["i", "b", "c"])
    # state size: bounded by the sketch dimensions, not key cardinality
    assert got.count() <= 4 * 64


def test_aggregate_sink_maintains_running_aggregate(spark, tmp_path):
    """Merging each micro-batch's partial aggregates into the target table
    must end at exactly the batch aggregate of the whole input — the
    streaming face of etl_incremental_agg (exact decimal sums, so merge
    order can't drift the totals)."""
    target = str(tmp_path / "agg_target")
    ckpt = str(tmp_path / "ckpt")
    q = runtime.run_aggregate_sink(
        runtime.stream_events(spark, SF0001), target, ckpt, key="event_type"
    )
    q.awaitTermination()
    got = {
        r["event_type"]: (r["n"], float(r["total"]))
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r["event_type"]: (r["n"], float(r["total"]))
        for r in load_table(spark, SF0001, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_interval_join_state_evicts_with_watermark(spark, tmp_path):
    """The time-bounded stream-stream join must EVICT buffered rows once
    the watermark passes their event time + lookback — the pair of
    constraints (watermarks both sides + bounded join predicate) that
    keeps state finite on infinite streams. Four hourly micro-batches
    with a 30-minute watermark: final state must hold ~the most recent
    batches, not all four."""
    import time

    landing = tmp_path / "ivl_landing"
    landing.mkdir()
    n_per_batch, n_batches = 60, 4
    for k in range(n_batches):
        df = spark.range(k * n_per_batch, (k + 1) * n_per_batch).select(
            F.col("id").alias("event_id"),
            (
                F.lit("2025-01-01 00:00:00").cast("timestamp")
                + F.expr(f"INTERVAL {k} HOURS")
                + F.make_interval(secs=F.col("id") % 60)
            ).alias("ts"),
            (F.col("id") % 5).alias("user_id"),
            F.when(F.col("id") % 2 == 0, "purchase").otherwise("click").alias(
                "event_type"
            ),
        )
        df.coalesce(1).write.parquet(str(landing / f"b{k}"))
        time.sleep(1.1)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "b*"))
    )
    purchases = stream.filter(F.col("event_type") == "purchase")
    clicks = stream.filter(F.col("event_type") == "click")
    joined = runtime.interval_stream_stream_join(
        purchases, clicks, lookback="10 minutes", watermark="30 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ivl_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ivl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("t_ivl_evict").count() > 0
    state_rows = [
        p.stateOperators[0].numRowsTotal for p in q.recentProgress if p.stateOperators
    ]
    assert state_rows, "no state metrics recorded"
    # eviction bound: without watermark cleanup the store would retain all
    # 240 rows; with it, the final micro-batch holds ~2 batches' worth
    assert state_rows[-1] <= 2 * n_per_batch + 10, state_rows


class TestCdcSink:
    @staticmethod
    def _ops(spark, which):
        rows = []
        if which == "inserts":
            rows = [(k, "I", 1, float(k)) for k in range(1, 101)]
        elif which == "changes":
            rows = [(k, "U", 2, float(k) * 2) for k in range(1, 101) if k % 7 == 0]
            rows += [(k, "D", 3, None) for k in range(1, 101) if k % 13 == 0]
        return spark.createDataFrame(
            rows, "key long, op string, op_seq long, price double"
        )

    @staticmethod
    def _expected():
        live = {}
        for k in range(1, 101):
            if k % 13 == 0:
                continue
            live[k] = float(k) * 2 if k % 7 == 0 else float(k)
        return live

    def _run(self, spark, tmp_path, first, second):
        import os

        src = str(tmp_path / "ops")
        os.makedirs(src)
        # file names force processing order (file source sorts by path)
        self._ops(spark, first).coalesce(1).write.parquet(src + "/a_batch")
        self._ops(spark, second).coalesce(1).write.parquet(src + "/b_batch")
        stream = (
            spark.readStream.schema("key long, op string, op_seq long, price double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        target = str(tmp_path / "target")
        q = runtime.run_cdc_sink(
            stream, target, "key", str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        return {
            r["key"]: r["price"]
            for r in runtime.read_cdc_target(spark, target).collect()
        }

    def test_in_order_apply_matches_batch_fold(self, spark, tmp_path):
        got = self._run(spark, tmp_path, "inserts", "changes")
        assert got == self._expected()

    def test_out_of_order_no_resurrection(self, spark, tmp_path):
        """Changes (incl. tombstones) arrive BEFORE the original inserts:
        op_seq arbitration must keep deletes deleted and updates applied —
        the late old insert never wins."""
        got = self._run(spark, tmp_path, "changes", "inserts")
        assert got == self._expected()


class TestRateLimitedCounters:
    def test_stream_matches_batch_rate_limit(self, spark, tmp_path):
        """On closed in-order input, the streaming per-(user,hour) cap
        must agree with the batch events_rate_limit window fold."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for u in range(4):
            for h in range(3):
                for i in range(u + h % 3 + 1):  # varying per-hour volumes
                    rows.append(
                        (eid, base + dt.timedelta(hours=h, minutes=i), u)
                    )
                    eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        src = str(tmp_path / "rl_src")
        df.coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .parquet(src)
        )
        out = runtime.rate_limited_counters(stream, cap=2)
        q = (
            out.writeStream.format("memory")
            .queryName("rl_counts")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["user_id"]: (r["kept"], r["dropped"])
            for r in spark.sql(
                "SELECT user_id, max(kept) AS kept, max(dropped) AS dropped "
                "FROM rl_counts GROUP BY user_id"
            ).collect()
        }
        # batch reference: row_number per (user, hour), cap 2
        from pyspark.sql import Window

        w = Window.partitionBy(
            "user_id", F.date_trunc("hour", F.col("ts"))
        ).orderBy("ts", "event_id")
        ranked = df.select("user_id", F.row_number().over(w).alias("rn"))
        expected = {
            r["user_id"]: (r["kept"], r["dropped"])
            for r in ranked.groupBy("user_id")
            .agg(
                F.count(F.when(F.col("rn") <= 2, 1)).alias("kept"),
                F.count(F.when(F.col("rn") > 2, 1)).alias("dropped"),
            )
            .collect()
        }
        assert got == expected

    def test_out_of_order_hours_do_not_reset_bucket(self, spark, tmp_path):
        """A,B,A hour interleave across micro-batches: the revisited hour A
        must keep counting against its ORIGINAL bucket (not re-admit cap
        per contiguous run), as long as it is inside the lateness window."""
        import datetime as dt
        import os

        base = dt.datetime(2024, 1, 1)
        batches = [
            # hour A: 3 events -> 2 kept, 1 dropped (cap 2)
            [(0, base + dt.timedelta(minutes=i), 7) for i in range(3)],
            # hour B: 1 event -> kept
            [(10, base + dt.timedelta(hours=1, minutes=1), 7)],
            # hour A again (late, inside 3h window): bucket already at 3 -> both dropped
            [(20 + i, base + dt.timedelta(minutes=30 + i), 7) for i in range(2)],
        ]
        src = str(tmp_path / "ooo_src")
        os.makedirs(src)
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                [(eid, ts, u) for eid, ts, u in rows],
                "event_id long, ts timestamp, user_id long",
            ).coalesce(1).write.parquet(f"{src}/batch_{i}")
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = runtime.rate_limited_counters(stream, cap=2, lateness_hours=3)
        q = (
            out.writeStream.format("memory")
            .queryName("rl_ooo")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        row = spark.sql(
            "SELECT max(kept) AS kept, max(dropped) AS dropped FROM rl_ooo"
        ).collect()[0]
        assert (row["kept"], row["dropped"]) == (3, 3)


def test_cdc_target_reader_survives_interrupted_swap(spark, tmp_path):
    """Crash-window contract: if the main target dir vanished mid-swap
    (renamed aside to .old but the new dir not yet in place), both
    read_cdc_target and the next batch's reader must fall back to .old
    instead of seeing an empty world."""
    import os

    rows = [(k, "I", 1, float(k)) for k in range(1, 11)]
    df = spark.createDataFrame(rows, "key long, op string, op_seq long, price double")
    src = str(tmp_path / "ops")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("key long, op string, op_seq long, price double")
        .parquet(src)
    )
    target = str(tmp_path / "target")
    q = runtime.run_cdc_sink(stream, target, "key", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # simulate the crash: main dir renamed aside, replacement never landed
    os.replace(target, target + ".old")
    got = {r["key"]: r["price"] for r in runtime.read_cdc_target(spark, target).collect()}
    assert got == {k: float(k) for k in range(1, 11)}


def test_cdc_tombstone_compaction(spark, tmp_path):
    """compact_cdc_target drops ONLY tombstones older than the horizon:
    live rows of any age survive, newer tombstones survive (they must —
    the source can still emit older ops that have to lose arbitration),
    and the reader sees an identical live view before and after."""
    rows = (
        [(k, "I", 1, float(k)) for k in range(1, 21)]
        + [(k, "D", 5, None) for k in (3, 6)]      # old tombstones
        + [(k, "D", 50, None) for k in (9, 12)]    # recent tombstones
    )
    df = spark.createDataFrame(rows, "key long, op string, op_seq long, price double")
    src = str(tmp_path / "ops")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("key long, op string, op_seq long, price double")
        .parquet(src)
    )
    target = str(tmp_path / "target")
    q = runtime.run_cdc_sink(stream, target, "key", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    before = {r["key"]: r["price"] for r in runtime.read_cdc_target(spark, target).collect()}
    stats = runtime.compact_cdc_target(spark, target, tombstone_horizon_seq=10)
    after = {r["key"]: r["price"] for r in runtime.read_cdc_target(spark, target).collect()}
    assert after == before  # live view unchanged
    assert stats["dropped"] == 2  # exactly the two sub-horizon tombstones
    raw = {r["key"]: r["op"] for r in spark.read.parquet(target).collect()}
    assert raw.get(9) == "D" and raw.get(12) == "D"  # recent tombstones kept
    assert 3 not in raw and 6 not in raw


def test_cdc_next_batch_recovers_interrupted_swap(spark, tmp_path):
    """If a crash leaves only <target>.old (renamed aside, replacement
    never landed), the NEXT micro-batch must merge against that state —
    not against an empty world that silently drops every absent key."""
    import os

    target = str(tmp_path / "target")
    src = str(tmp_path / "ops")
    os.makedirs(src)

    first = spark.createDataFrame(
        [(k, "I", 1, float(k)) for k in range(1, 11)],
        "key long, op string, op_seq long, price double",
    )
    first.coalesce(1).write.parquet(src + "/a_batch")
    stream = (
        spark.readStream.schema("key long, op string, op_seq long, price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = runtime.run_cdc_sink(stream, target, "key", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # crash between the two renames: state only exists as .old
    os.replace(target, target + ".old")

    second = spark.createDataFrame(
        [(1, "U", 2, 100.0), (11, "I", 2, 11.0)],
        "key long, op string, op_seq long, price double",
    )
    second.coalesce(1).write.parquet(src + "/b_batch")
    stream2 = (
        spark.readStream.schema("key long, op string, op_seq long, price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = runtime.run_cdc_sink(stream2, target, "key", str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    got = {r["key"]: r["price"] for r in runtime.read_cdc_target(spark, target).collect()}
    want = {k: float(k) for k in range(2, 11)} | {1: 100.0, 11: 11.0}
    assert got == want  # keys 2..10 survived via the .old fallback
    assert not os.path.exists(target + ".old")  # swap completed cleanly


def test_funnel_tracker_matches_batch_funnel(spark, tmp_path):
    """funnel_stage_tracker replayed over a closed input — delivered as
    micro-batches in late-stage-first order, so clicks/purchases arrive
    BEFORE the views that anchor them — must assign every user exactly
    the stage the batch events_funnel_windowed logic computes (first
    view -> first qualifying click within 1h -> first qualifying
    purchase within 1h of that click). Event-time timeouts fire on the
    batch AFTER the watermark passes a user's horizon, so two trailing
    flush batches drain every verdict (their sentinel user stays open
    and is excluded, like user 3 in the sessionized test)."""
    import datetime as dt
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = lambda mins: base + dt.timedelta(minutes=mins)
    rows = [
        # u0: full funnel inside the windows -> stage 3
        (0, m(0), "view"), (0, m(30), "click"), (0, m(70), "purchase"),
        # u1: click outside 1h of first view -> stage 1
        (1, m(0), "view"), (1, m(90), "click"), (1, m(100), "purchase"),
        # u2: click ok, purchase >1h after the click -> stage 2
        (2, m(0), "view"), (2, m(50), "click"), (2, m(140), "purchase"),
        # u3: purchase BEFORE the click (not strictly after) -> stage 2
        (3, m(0), "view"), (3, m(40), "click"), (3, m(20), "purchase"),
        # u4: no view at all -> stage 0
        (4, m(10), "click"), (4, m(20), "purchase"),
        # u5: the EARLIER view arrives in a LATER batch (within the 2h
        # watermark): anchor shifts to m(0); click m(30) and purchase
        # m(80) then qualify -> stage 3
        (5, m(30), "click"), (5, m(80), "purchase"),
        # u6: click exactly AT view ts (not strictly after) -> stage 1
        (6, m(0), "view"), (6, m(0), "click"),
    ]
    late = [(5, m(0), "view")]
    schema = "user_id long, ts timestamp, event_type string"
    landing = tmp_path / "funnel_landing"
    landing.mkdir()

    def land(name, data):
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(landing / name)
        )
        time.sleep(1.1)  # pin file order for maxFilesPerTrigger=1

    land("b0", rows[8:])            # later stages first
    land("b1", rows[:8] + late)     # anchors + the late earlier view
    land("b2", [(99, m(600), "noop")])  # advances the watermark
    land("b3", [(98, m(601), "noop")])  # fires the armed timeouts

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(landing / "b*"))
    out = runtime.funnel_stage_tracker(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stages")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["user_id"]: r["stage"]
        for r in spark.table("funnel_stages").collect()
        if r["user_id"] not in (98, 99)
    }
    # batch reference: the events_funnel_windowed stage logic in python
    per_user = {}
    for u, ts, et in rows + late:
        per_user.setdefault(u, []).append((ts, et))
    expected = {}
    H = dt.timedelta(hours=1)
    for u, evs in per_user.items():
        views = [t for t, e in evs if e == "view"]
        stage = 0
        if views:
            stage, v = 1, min(views)
            qc = [t for t, e in evs if e == "click" and v < t <= v + H]
            if qc:
                stage, c = 2, min(qc)
                if any(
                    e == "purchase" and c < t <= c + H for t, e in evs
                ):
                    stage = 3
        expected[u] = stage
    assert got == expected


def test_funnel_tracker_exactly_once_under_cross_key_skew(spark, tmp_path):
    """Regression for the last-seen timeout bug: with watermark delay EQUAL
    to the funnel window (the default 1h/1h), a hot key's events push the
    watermark past a quiet user's last event while their funnel window is
    still open. The old arming (max(last event, watermark)+1ms) finalized
    and REMOVED the quiet user's state at that point, so their later
    ON-TIME click recreated state and emitted a second, contradictory row
    (stage 1 then stage 0). Arming at the episode horizon (view + 2W) must
    yield exactly ONE row per user, at the batch-funnel stage."""
    import datetime as dt
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = lambda mins: base + dt.timedelta(minutes=mins)
    schema = "user_id long, ts timestamp, event_type string"
    landing = tmp_path / "skew_landing"
    landing.mkdir()

    def land(name, data):
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(landing / name)
        )
        time.sleep(1.1)  # pin file order for maxFilesPerTrigger=1

    # b0: quiet user 1 views at m(0); hot user 99 event at m(62) pushes
    #     the post-batch watermark to m(2) > u1's last event m(0).
    land("b0", [(1, m(0), "view"), (99, m(62), "noop")])
    # b1: u1 has NO data this batch, so an expired timeout actually fires:
    #     the buggy last-seen arming (m(0)+1ms < watermark m(2)) finalizes
    #     u1 HERE — emits stage 1, removes state.
    land("b1", [(99, m(63), "noop")])
    # b2: u1's on-time qualifying click at m(50) (> watermark m(3), inside
    #     view+1h) — under the bug it re-creates view-less state that later
    #     finalizes as a second row (stage 0).
    land("b2", [(1, m(50), "click"), (99, m(64), "noop")])
    # b3/b4: advance the watermark past u1's horizon m(120) and fire it.
    land("b3", [(99, m(200), "noop")])
    land("b4", [(98, m(201), "noop")])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(landing / "b*"))
    out = runtime.funnel_stage_tracker(stream)  # default 1h window, 1h watermark
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_skew")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "skew_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = [
        (r["user_id"], r["stage"])
        for r in spark.table("funnel_skew").collect()
        if r["user_id"] == 1
    ]
    # exactly one verdict, and it saw both the view and the later click
    assert rows == [(1, 2)]


def test_interval_left_join_emits_null_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a purchase with a click inside the
    lookback emits the matched row as soon as both sides arrive; a
    purchase with NO click emits exactly one NULL-click row — but only
    AFTER the watermark passes its lookback window (the state store must
    prove no match can still arrive). A trailing purchase whose window the
    final watermark never closes must NOT emit — outer results are late by
    design, never speculative."""
    import datetime as dt
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = lambda mins: base + dt.timedelta(minutes=mins)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    pland = tmp_path / "p_landing"
    cland = tmp_path / "c_landing"
    pland.mkdir(), cland.mkdir()

    def land(root, name, data):
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(root / name)
        )
        time.sleep(1.1)

    # data batch: u1 purchase with a qualifying click; u2 purchase alone
    land(pland, "b0", [(10, m(100), 1, "purchase"), (11, m(100), 2, "purchase")])
    land(cland, "b0", [(20, m(80), 1, "click")])
    # flush batches push BOTH watermarks (multi-input wm = min) past
    # m(100)+30min; the flush purchase's own window never closes
    land(pland, "b1", [(98, m(600), 98, "purchase")])
    land(cland, "b1", [(99, m(600), 99, "click")])
    land(pland, "b2", [(96, m(601), 96, "purchase")])
    land(cland, "b2", [(97, m(601), 97, "click")])

    def stream(root):
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(root / "b*"))

    out = runtime.interval_stream_stream_left_join(
        stream(pland), stream(cland), lookback="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_interval_left")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ilj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["purchase_id"], r["user_id"], r["click_id"])
        for r in spark.table("t_interval_left").collect()
    }
    assert (10, 1, 20) in rows            # matched pair
    assert (11, 2, None) in rows          # finalized NULL row
    assert all(p not in (96, 98) or c is not None
               for p, _, c in rows) or True
    # the trailing flush purchases' windows were never closed by the final
    # watermark, so they must not have emitted NULL rows
    assert (98, 98, None) not in rows and (96, 96, None) not in rows
    # and exactly one row per finalized purchase
    assert len([r for r in rows if r[0] == 11]) == 1


def test_kmv_sink_synopsis_equals_batch_twin(spark, tmp_path):
    """Streaming KMV maintenance: per-micro-batch per-window k-smallest
    hashes merged by union+distinct+retake-k must end at the SAME
    synopsis a single batch pass builds (the mergeability
    agg_kmv_merge_proof proves), so the derived estimates equal the
    checked batch twin ts_window_distinct_kmv row for row."""
    from hawaiidatapipeline_spark.queries import sketches_extra

    target = str(tmp_path / "kmv_target")
    ckpt = str(tmp_path / "kmv_ckpt")
    q = runtime.run_kmv_sink(
        runtime.stream_events(spark, SF0001), target, ckpt, k=32
    )
    q.awaitTermination()
    syn = spark.read.parquet(target)
    got = runtime.kmv_estimates(syn, k=32)
    want = sketches_extra.QUERIES["ts_window_distinct_kmv"](
        spark, SF0001
    ).select("window_id", "est_distinct")
    cols = ["window_id", "est_distinct"]
    assert _rows(got, cols) == _rows(want, cols)
    # state bound: stored synopsis holds at most k hashes per window
    per_w = syn.groupBy("w").count().collect()
    assert all(r["count"] <= 32 for r in per_w)


def test_kmv_sink_damaged_target_raises_not_resets(spark, tmp_path):
    """A target directory that EXISTS but cannot be read as parquet must
    fail the micro-batch loudly — never be treated as 'first batch' and
    silently replaced by the current batch's synopsis (which would lose
    all accumulated window state while claiming a lossless merge)."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    target = str(tmp_path / "kmv_damaged")
    os.makedirs(target)
    with open(os.path.join(target, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    q = runtime.run_kmv_sink(
        runtime.stream_events(spark, SF0001),
        target,
        str(tmp_path / "kmv_damaged_ckpt"),
        k=32,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # the garbage target was not clobbered by a fresh overwrite
    with open(os.path.join(target, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"not a parquet file"


# one sink per fold family: (sink, source table, key to split it on,
# read-time view of the drained target)
_SWAP_FAMILIES = {
    "merge": (
        lambda df, t, c: runtime.run_merge_sink(df, t, key="event_id", checkpoint=c),
        "events",
        "event_id",
        lambda spark, t: _rows(
            spark.read.parquet(t),
            ["event_id", "ts", "user_id", "event_type", "value"],
        ),
    ),
    "kmv": (
        lambda df, t, c: runtime.run_kmv_sink(df, t, c, k=32),
        "events",
        "event_id",
        lambda spark, t: _rows(
            runtime.kmv_estimates(spark.read.parquet(t), k=32),
            ["window_id", "est_distinct"],
        ),
    ),
    "decay": (
        runtime.run_decay_sink,
        "events",
        "event_id",
        lambda spark, t: _rows(
            runtime.decay_estimates(spark.read.parquet(t)),
            ["event_type", "n_events", "decayed_h7_micro"],
        ),
    ),
    "cdc_apply": (
        runtime.run_cdc_apply_sink,
        "orders",
        "o_orderkey",
        lambda spark, t: _rows(
            runtime.cdc_live_view(spark.read.parquet(t)),
            ["key", "op_seq", "op", "price"],
        ),
    ),
}


@pytest.mark.parametrize("sink", list(_SWAP_FAMILIES))
def test_sink_recovers_from_old_after_interrupted_swap(spark, tmp_path, sink):
    """The shared rename-aside swap (runtime._swap_in), one sink per fold
    family: if a crash leaves only <target>.old (between rename-aside and
    rename-in), the next batch reads the survivor instead of restarting
    state — the resumed stream ends at the same state as an
    uninterrupted run over the same two batches."""
    import os

    run, table, key, view = _SWAP_FAMILIES[sink]
    src = load_table(spark, SF0001, table)
    halves = [src.filter(F.col(key) % 2 == i) for i in (0, 1)]

    def drain(name, crash):
        base = tmp_path / name
        target = str(base / "target")
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(str(base / "landing" / f"p{i}"))
            stream = (
                spark.readStream.schema(src.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(base / "landing" / "p*"))
            )
            # same checkpoint: the second start runs only the new batch
            run(stream, target, str(base / "ckpt")).awaitTermination()
            if crash and i == 0:
                # crash window: target renamed aside, new dir never landed
                os.replace(target, target + ".old")
        assert not os.path.exists(target + ".old")  # swap completed cleanly
        return view(spark, target)

    assert drain("crashed", crash=True) == drain("clean", crash=False)


def test_late_audit_sink_equals_batch_twin(spark, tmp_path):
    """Equivalence test #31 — the late-data audit side sink: events
    replayed micro-batched IN ARRIVAL ORDER (the same jittered arrival
    sequence the batch twin models), routed by run_late_audit_sink into
    accepted/dropped side outputs with per-key max state carried across
    batches, must reproduce the E-checked stream_late_audit rollup
    exactly — the verdict depends only on the arrival prefix, so any
    in-order batch split yields identical classifications."""
    import time

    events = load_table(spark, SF0001, "events").withColumn(
        "arrival_seq",
        F.col("event_id")
        + (F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296) % 101
        - 50,
    )
    rows = events.orderBy("arrival_seq", "event_id").collect()
    landing = tmp_path / "late_landing"
    landing.mkdir()
    n_files = 4
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part, events.schema).coalesce(1).write.parquet(
            str(landing / f"b{i}")
        )
        time.sleep(1.1)  # file-source ordering is by mod time

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "b*"))
    )
    audit = str(tmp_path / "late_audit")
    q = runtime.run_late_audit_sink(
        stream,
        audit_path=audit,
        state_path=str(tmp_path / "late_state"),
        checkpoint=str(tmp_path / "late_ckpt"),
        threshold="30 minutes",
        grace="60 minutes",
        order_col=("arrival_seq", "event_id"),
    )
    q.awaitTermination()

    accepted = spark.read.parquet(audit + "/accepted")
    dropped = spark.read.parquet(audit + "/dropped")
    # multi-batch replay actually happened, and the routing is exclusive
    assert accepted.select("batch_id").distinct().count() >= 2
    assert set(
        r.late_class for r in dropped.select("late_class").distinct().collect()
    ) == {"late_dropped"}
    assert accepted.filter(F.col("late_class") == "late_dropped").count() == 0
    assert accepted.count() + dropped.count() == len(rows)

    got = (
        accepted.unionByName(dropped)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("late_class") == "on_time", 1).otherwise(0))
            .cast("long")
            .alias("n_on_time"),
            F.sum(
                F.when(F.col("late_class") == "late_accepted", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_late_accepted"),
            F.sum(
                F.when(F.col("late_class") == "late_dropped", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_late_dropped"),
        )
    )
    want = batch_twins.stream_late_audit(spark, SF0001)
    cols = ["event_type", "n_total", "n_on_time", "n_late_accepted", "n_late_dropped"]
    assert _rows(got, cols) == _rows(want, cols)


# stamped sinks: (start the sink on its fixture stream, read-time view)
_STAMPED_SINKS = {
    "aggregate": (
        lambda spark, t, c: runtime.run_aggregate_sink(
            runtime.stream_events(spark, SF0001), t, c, key="event_type"
        ),
        lambda spark, t: {
            r["event_type"]: (r["n"], float(r["total"]))
            for r in spark.read.parquet(t).collect()
        },
    ),
    "dsir": (
        lambda spark, t, c: runtime.run_dsir_model_sink(
            runtime.stream_documents(spark, SF0001), t, c
        ),
        lambda spark, t: _rows(
            runtime.dsir_model_lambda(spark.read.parquet(t)), ["f", "lam_micro"]
        ),
    ),
    "cdc_apply": (
        lambda spark, t, c: runtime.run_cdc_apply_sink(
            runtime.stream_orders(spark, SF0001), t, c
        ),
        lambda spark, t: _rows(
            runtime.cdc_live_view(spark.read.parquet(t)),
            ["key", "op_seq", "op", "price"],
        ),
    ),
    "classifier": (
        lambda spark, t, c: runtime.run_classifier_model_sink(
            runtime.stream_documents(spark, SF0001), t, c
        ),
        lambda spark, t: _rows(
            runtime.classifier_training_curve(spark.read.parquet(t)),
            ["round", "n_correct", "n_docs", "accuracy_micro"],
        ),
    ),
    "decay": (
        lambda spark, t, c: runtime.run_decay_sink(
            runtime.stream_events(spark, SF0001), t, c
        ),
        lambda spark, t: _rows(
            runtime.decay_estimates(spark.read.parquet(t)),
            ["event_type", "n_events", "decayed_h7_micro", "decayed_h30_micro"],
        ),
    ),
}


@pytest.mark.parametrize("sink", list(_STAMPED_SINKS))
def test_stamped_sink_replay_is_idempotent(spark, tmp_path, sink):
    """ADVICE r10, for every _last_batch-stamped sink: a replayed
    micro-batch (same or older batch_id) must NOT double-merge into the
    stored state. Re-running the whole stream against the same target
    with a fresh checkpoint replays every batch from id 0 — with the
    stamp the read-time view must be unchanged."""
    run, view = _STAMPED_SINKS[sink]
    target = str(tmp_path / "target")
    run(spark, target, str(tmp_path / "ckpt1")).awaitTermination()
    first = view(spark, target)
    assert dict(spark.read.parquet(target).dtypes)["_last_batch"] == "bigint"
    # fresh WAL -> full replay
    run(spark, target, str(tmp_path / "ckpt2")).awaitTermination()
    assert view(spark, target) == first


def test_dsir_model_sink_equals_batch_twin(spark, tmp_path):
    """Streaming DSIR λ-model maintenance (equivalence test #33): the
    documents fixture streamed through run_dsir_model_sink in 4
    micro-batches must end at EXACTLY the counter table one batch pass
    builds (counters are pure sums — mergeable by construction), so the
    derived λ and the document scores equal the hash-checked
    llm_dsir_weights twin row for row."""
    from hawaiidatapipeline_spark.queries import selection_extra as se

    target = str(tmp_path / "dsir_model")
    ckpt = str(tmp_path / "dsir_ckpt")
    q = runtime.run_dsir_model_sink(
        runtime.stream_documents(spark, SF0001), target, ckpt
    )
    q.awaitTermination()
    model = spark.read.parquet(target)
    # multiple micro-batches actually ran (the merge path was exercised)
    assert model.agg(F.max("_last_batch")).collect()[0][0] >= 1
    # state bound: the stored model is <= B rows
    assert model.count() <= se._DSIR_B
    docs = load_table(spark, SF0001, "documents")
    docf = se._dsir_doc_buckets(docs)
    # 1) drained counters == batch-pass counters, row for row
    batch_model = se._dsir_bucket_model(docf)
    cols = ["f", "cr", "ct"]
    assert _rows(model.select(*cols), cols) == _rows(batch_model, cols)
    # 2) scores through the streamed model == the checked batch twin
    got = se._dsir_score(docf, runtime.dsir_model_lambda(model))
    want = se._dsir_weights_for(docs)
    cols = ["doc_id", "lang", "n_feats", "weight_micro"]
    assert _rows(got, cols) == _rows(want, cols)


def test_classifier_model_sink_equals_batch_twin(spark, tmp_path):
    """Streaming quality-classifier feature store (equivalence test #34,
    VERDICT r12 #6): the documents fixture streamed through
    run_classifier_model_sink in micro-batches must train — via the
    read-time curve derivation over the drained store — to EXACTLY the
    hash-checked llm_quality_classifier_train curve. Featurization is a
    pure per-doc map so disjoint batches union to the one-pass result;
    training arithmetic is shared code (_qc_train_from)."""
    from hawaiidatapipeline_spark.queries import round12_extra as r12

    target = str(tmp_path / "qc_store")
    ckpt = str(tmp_path / "qc_ckpt")
    q = runtime.run_classifier_model_sink(
        runtime.stream_documents(spark, SF0001), target, ckpt
    )
    q.awaitTermination()
    store = spark.read.parquet(target)
    # multiple micro-batches actually ran (the merge path was exercised)
    assert store.agg(F.max("_last_batch")).collect()[0][0] >= 1
    # store shape: one label row per doc, feature rows hash-bounded
    docs = load_table(spark, SF0001, "documents")
    n_docs = docs.count()
    assert store.filter(F.col("f") == -2).count() == n_docs
    assert store.filter(F.col("f") >= 0).count() <= n_docs * 256
    # 1) curve derived from the drained store == the checked batch twin
    got = runtime.classifier_training_curve(store)
    want = r12.llm_quality_classifier_train(spark, SF0001)
    cols = ["round", "n_correct", "n_docs", "accuracy_micro"]
    assert _rows(got, cols) == _rows(want, cols)
    # 2) replay idempotence: fresh checkpoint -> full replay, store unchanged
    q2 = runtime.run_classifier_model_sink(
        runtime.stream_documents(spark, SF0001), target,
        str(tmp_path / "qc_ckpt2"),
    )
    q2.awaitTermination()
    store2 = spark.read.parquet(target)
    cols2 = ["doc_id", "f", "c"]
    assert _rows(store2.select(*cols2), cols2) == _rows(
        store.select(*cols2), cols2
    )


def test_cdc_apply_sink_equals_batch_twin(spark, tmp_path):
    """Streaming CDC-apply (equivalence test #35): the deterministic op
    log streamed through run_cdc_apply_sink in micro-batches must fold —
    by last-writer-wins with retained tombstones — to EXACTLY the state
    the one-pass etl_cdc_apply batch twin reports, and a full replay
    against the same target must change nothing."""
    from hawaiidatapipeline_spark.queries import warehouse_extra as we

    target = str(tmp_path / "cdc_state")
    q = runtime.run_cdc_apply_sink(
        runtime.stream_orders(spark, SF0001), target, str(tmp_path / "ck1")
    )
    q.awaitTermination()
    state = spark.read.parquet(target)
    assert state.agg(F.max("_last_batch")).collect()[0][0] >= 1
    live = runtime.cdc_live_view(state)
    got = live.agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.round(F.sum(F.col("price").cast("decimal(20,4)")), 2)
        .cast("double")
        .alias("total_price"),
    )
    want = we.etl_cdc_apply(spark, SF0001)
    cols = ["n_live", "n_updated", "total_price"]
    assert _rows(got, cols) == _rows(want, cols)
    # tombstones retained in state: deleted keys present with op = D
    n_tomb = state.filter(F.col("op") == "D").count()
    assert n_tomb > 0
    # replay idempotence: fresh checkpoint -> full replay, state unchanged
    q2 = runtime.run_cdc_apply_sink(
        runtime.stream_orders(spark, SF0001), target, str(tmp_path / "ck2")
    )
    q2.awaitTermination()
    state2 = spark.read.parquet(target)
    cols2 = ["key", "op_seq", "op", "price"]
    assert _rows(state2.select(*cols2), cols2) == _rows(
        state.select(*cols2), cols2
    )


def test_theta_sink_setops_equal_batch_twin(spark, tmp_path):
    """Streaming theta-sketch maintenance (#36): per-micro-batch
    per-audience k-smallest hashes merged by union+distinct+retake-k
    must end at the same synopses a batch pass builds, so the derived
    union/intersection/a-not-b estimates equal the checked batch twin
    agg_theta_sketch_setops on (op, retained, theta, est_distinct)."""
    from hawaiidatapipeline_spark.queries import round13b_extra

    target = str(tmp_path / "theta_target")
    ckpt = str(tmp_path / "theta_ckpt")
    q = runtime.run_theta_sink(
        runtime.stream_orders(spark, SF0001), target, ckpt, k=64
    )
    q.awaitTermination()
    syn = spark.read.parquet(target)
    got = runtime.theta_setops(syn, k=64)
    want = round13b_extra.QUERIES["agg_theta_sketch_setops"](
        spark, SF0001
    ).select("op", "retained", "theta", "est_distinct")
    cols = ["op", "retained", "theta", "est_distinct"]
    assert _rows(got, cols) == _rows(want, cols)
    # state bound: at most k hashes per audience tag
    per_tag = syn.groupBy("tag").count().collect()
    assert all(r["count"] <= 64 for r in per_tag)


def test_decay_sink_estimates_equal_batch_twin(spark, tmp_path):
    """Streaming decayed-counter maintenance (#37): per-micro-batch
    (type, day) counts merged by key-summed addition must end at the
    state from which decay_estimates derives EXACTLY the batch twin
    agg_decay_counters — weights are a read-time function of (day,
    anchor), so the stream and the batch pass agree bit for bit."""
    from hawaiidatapipeline_spark.queries import round13b_extra

    target = str(tmp_path / "decay_target")
    ckpt = str(tmp_path / "decay_ckpt")
    q = runtime.run_decay_sink(
        runtime.stream_events(spark, SF0001), target, ckpt
    )
    q.awaitTermination()
    state = spark.read.parquet(target)
    got = runtime.decay_estimates(state)
    want = round13b_extra.QUERIES["agg_decay_counters"](spark, SF0001)
    cols = [
        "event_type", "n_events", "decayed_h7_micro",
        "decayed_h30_micro", "mean_weight_h7_micro",
    ]
    assert _rows(got, cols) == _rows(want, cols)
    # state bound: (type, day) grain, not event grain
    n_state = state.count()
    n_events = spark.read.parquet(SF0001 + "/events.parquet").count()
    assert n_state < n_events / 2


def test_lww_fold_keeps_current_row_on_op_seq_tie(spark):
    """The one last-writer-wins CDC fold (run_cdc_sink and
    run_cdc_apply_sink): the batch folds to its newest op per key, a
    strictly newer batch op replaces the stored row, an older one loses,
    and on an op_seq TIE the stored (current) row stays."""
    schema = "key long, op string, op_seq long, price double"
    current = spark.createDataFrame(
        [(1, "I", 5, 10.0), (2, "I", 5, 20.0), (3, "U", 9, 30.0)], schema
    )
    batch = spark.createDataFrame(
        [
            (1, "U", 5, 11.0),  # tie with the stored row -> stored row stays
            (2, "U", 4, 19.0),  # older than the batch's own newest op
            (2, "U", 6, 21.0),  # strictly newer -> replaces the stored row
            (3, "I", 1, 31.0),  # older than the stored row -> loses
            (4, "I", 1, 40.0),  # new key -> lands
        ],
        schema,
    )
    got = runtime._lww_apply(current, runtime._lww_newest(batch, "key"), "key")
    assert _rows(got, ["key", "op", "op_seq", "price"]) == [
        (1, "I", 5, 10.0),
        (2, "U", 6, 21.0),
        (3, "U", 9, 30.0),
        (4, "I", 1, 40.0),
    ]


def test_state_protocol_is_single_sourced():
    """Lint over streaming/runtime.py: the crash-safe state protocol is
    written once. Renames (``os.replace``) and the ``__tmp_`` staging name
    live only in ``_swap_in``; the ``.old`` suffix only there and in the
    ``_read_state`` fallback, so no other function can rename state or
    drop a ``.old`` survivor; the writer chain (``foreachBatch``) only in
    ``_start``. No state sink rebuilds its state on the driver
    (``createDataFrame``), and the replay guard's one scalar read is the
    only ``collect`` in the sink layer."""
    import ast

    with open(runtime.__file__) as f:
        tree = ast.parse(f.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def attr_calls(fn, attr, owner=None):
        return [
            n
            for n in ast.walk(fn)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
            and (owner is None or getattr(n.func.value, "id", None) == owner)
        ]

    def holding(pred):
        return sorted(
            name
            for name, fn in funcs.items()
            if any(
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and pred(n.value)
                for n in ast.walk(fn)
            )
        )

    def calling(attr, owner=None):
        return sorted(name for name, fn in funcs.items() if attr_calls(fn, attr, owner))

    assert calling("replace", owner="os") == ["_swap_in"]
    assert holding(lambda v: "__tmp_" in v) == ["_swap_in"]
    assert holding(lambda v: v == ".old") == ["_read_state", "_swap_in"]
    assert calling("foreachBatch") == ["_start"]
    assert calling("createDataFrame") == []
    protocol = ("_read_state", "_swap_in", "_start", "_state_sink", "compact_cdc_target")
    sink_layer = [
        name
        for name in funcs
        if (name.startswith("run_") and name.endswith("_sink")) or name in protocol
    ]
    collects = {name: len(attr_calls(funcs[name], "collect")) for name in sink_layer}
    assert {n: c for n, c in collects.items() if c} == {"_state_sink": 1}
    # every state read goes through the single-path reader
    reads = [
        n
        for fn in funcs.values()
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_read_state"
    ]
    assert reads and all(len(n.args) == 2 for n in reads)
