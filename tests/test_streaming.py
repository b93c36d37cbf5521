"""Streaming ingest executed for real: an availableNow drain from a
file source into the store's record log, then as-of/PIT/stats reads
over the streamed records — including a NULL cell (the to_json
ignoreNullFields pitfall)."""

import pytest
from pyspark.sql import functions as F

from blackroad_feature_store_spark import FeatureStore
from blackroad_feature_store_spark.streaming.ingest import (
    start_ingest,
    windowed_counts,
)


@pytest.fixture()
def streaming_store(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path / "fs"))
    fs.register_feature("clicks", "user", "int")
    fs.register_feature("city", "user", "str")
    g = fs.create_group(
        "user_activity", ["clicks", "city"], "user_id", frequency="streaming"
    )
    return fs, g


def test_streaming_ingest_then_asof_read(spark, tmp_path, streaming_store):
    fs, g = streaming_store

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [
            ("u1", "2026-01-01T00:00:00", 3, "Oslo"),
            ("u1", "2026-02-01T00:00:00", 7, None),  # NULL cell
            ("u2", "2026-01-15T00:00:00", 1, "Bergen"),
        ],
        "user_id string, ts string, clicks int, city string",
    ).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(
            "user_id string, ts string, clicks int, city string"
        ).parquet(src_dir)
    )
    q = start_ingest(
        fs,
        g.id,
        stream,
        entity_col="user_id",
        ts_col="ts",
        value_cols=["clicks", "city"],
        checkpoint=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"

    # latest snapshot (the one with the NULL) decodes cleanly
    latest = fs.get_features(g.id, "u1")
    assert latest == {"clicks": 7, "city": None}

    # as-of before the second snapshot returns the first
    old = fs.get_features(g.id, "u1", as_of="2026-01-15T00:00:00")
    assert old == {"clicks": 3, "city": "Oslo"}

    # PIT join over streamed records, missing entity null-filled
    rows = fs.point_in_time_join(["u1", "u2", "u3"], [g.id])
    assert rows[0]["clicks"] == 7
    assert rows[1] == {"entity_id": "u2", "clicks": 1, "city": "Bergen"}
    assert rows[2] == {"entity_id": "u3", "clicks": None, "city": None}

    # stats over streamed records
    st = fs.statistics(g.id)
    assert st["total_records"] == 3
    assert st["features"]["clicks"]["count"] == 3
    assert st["features"]["clicks"]["mean"] == pytest.approx(11 / 3, abs=1e-6)
    assert st["features"]["city"]["null_count"] == 1


def test_streaming_ingest_refreshes_rollup_per_batch(
    spark, tmp_path, streaming_store
):
    fs, g = streaming_store
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [
            ("u1", "2026-01-01T00:00:00", 3, "Oslo"),
            ("u1", "2026-02-01T00:00:00", 7, "Oslo"),
            ("u2", "2026-01-15T00:00:00", 1, "Bergen"),
        ],
        "user_id string, ts string, clicks int, city string",
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "user_id string, ts string, clicks int, city string"
    ).parquet(src_dir)
    q = start_ingest(
        fs,
        g.id,
        stream,
        entity_col="user_id",
        ts_col="ts",
        value_cols=["clicks", "city"],
        checkpoint=str(tmp_path / "ckpt"),
        trigger_available_now=True,
        refresh_rollup="live",
    )
    assert q.awaitTermination(600), "drain did not finish"
    # The rollup was advanced inside the stream's foreachBatch — it is
    # already fresh WITHOUT any post-hoc refresh call.
    got = {
        r["entity_id"]: r["n_records"]
        for r in fs.read_entity_rollup("live").collect()
    }
    assert got == {"u1": 2, "u2": 1}
    # A second no-new-data refresh is a no-op snapshot read.
    assert fs.refresh_entity_rollup("live", g.id).count() == 2


def test_streaming_requires_streaming_group(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path / "fs2"))
    fs.register_feature("x", "user", "int")
    g = fs.create_group("batch_g", ["x"], "user_id")  # frequency=batch
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="streaming"):
        start_ingest(
            fs, g.id, stream, "value", "timestamp", ["value"],
            checkpoint=str(tmp_path / "ckpt2"),
        )


def test_windowed_counts_streaming_plan(spark, tmp_path):
    """Run the watermarked windowed agg as a real stream (memory sink)."""
    src_dir = str(tmp_path / "events")
    spark.createDataFrame(
        [
            ("2026-01-01T00:10:00", "click", 1.0),
            ("2026-01-01T00:40:00", "click", 2.0),
            ("2026-01-01T01:10:00", "view", 5.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    ).write.parquet(src_dir)

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src_dir)
    agg = windowed_counts(stream, ts_col="ts", key_col="event_type")
    q = (
        agg.writeStream.format("memory")
        .queryName("wc_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    rows = {
        (r["event_type"], r["window"]["start"].isoformat()): (
            r["n"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM wc_test").collect()
    }
    assert rows[("click", "2026-01-01T00:00:00")] == (2, 3.0)
    assert rows[("view", "2026-01-01T01:00:00")] == (1, 5.0)


def _split_sessions_by_loop(ts_us, vals, gap_us, carry):
    """The per-row fold the vectorized kernel replaces: a row more than
    ``gap_us`` after the latest timestamp so far closes the session."""
    if carry is None:
        start_us = last_us = int(ts_us[0])
        n, s = 0, 0.0
    else:
        start_us, last_us, n, s = carry
    out = []
    for t, v in zip(ts_us, vals):
        t = int(t)
        if n > 0 and t - last_us > gap_us:
            out.append((start_us, last_us, n, s))
            start_us, n, s = t, 0, 0.0
        last_us = max(last_us, t)
        n += 1
        s += float(v)
    return out, (start_us, last_us, n, s)


def test_split_sessions_matches_per_row_loop():
    """The numpy sessionization kernel equals the per-row loop on random
    sorted batches (ties and gaps straddling ``gap_us``), with no
    carried session and with one, including a carried ``last_us`` past
    the batch's first row (late data)."""
    import numpy as np

    from blackroad_feature_store_spark.streaming.stateful import (
        _split_sessions,
    )

    rng = np.random.default_rng(7)
    gap_us = 1_000
    for case in range(600):
        size = int(rng.integers(1, 40))
        steps = rng.choice([0, 1, 999, 1_000, 1_001, 5_000], size=size)
        ts_us = np.cumsum(steps).astype(np.int64) + int(rng.integers(0, 10**6))
        vals = rng.normal(size=size).round(3)
        mode = case % 3
        if mode == 0:
            carry = None
        else:
            # mode 2: the carried session's last row is past the
            # batch's first (late) row, sometimes past all of them
            lead = (
                int(rng.integers(1, 3_000)) if mode == 1
                else -int(rng.integers(0, ts_us[-1] - ts_us[0] + 2_000))
            )
            last = int(ts_us[0]) - lead
            carry = (last - int(rng.integers(0, 5_000)), last,
                     int(rng.integers(1, 9)), float(rng.normal()))
        want_closed, want_open = _split_sessions_by_loop(
            ts_us, vals, gap_us, carry
        )
        closed, still_open = _split_sessions(ts_us, vals, gap_us, carry)
        got_closed = list(zip(*(a.tolist() for a in closed)))
        assert [c[:3] for c in got_closed] == [c[:3] for c in want_closed]
        assert [c[3] for c in got_closed] == pytest.approx(
            [c[3] for c in want_closed], abs=1e-9
        )
        assert still_open[:3] == want_open[:3], case
        assert still_open[3] == pytest.approx(want_open[3], abs=1e-9)


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer run as a real stream."""
    from blackroad_feature_store_spark.streaming.stateful import (
        drain_and_stop,
        sessionize_stream,
    )

    src_dir = str(tmp_path / "sess_events")
    spark.createDataFrame(
        [
            # user 1: two sessions (90-min gap between them)
            (1, "2026-01-01T00:00:00", 1.0),
            (1, "2026-01-01T00:10:00", 2.0),
            (1, "2026-01-01T01:40:00", 3.0),
            # user 2: one session
            (2, "2026-01-01T00:05:00", 5.0),
        ],
        "user_id long, ts_s string, value double",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    ).write.parquet(src_dir)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src_dir)
    sessions = sessionize_stream(stream, gap="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    # ProcessingTimeTimeout schedules no-data batches forever;
    # awaitTermination would block the full timeout. Bounded drain.
    drain_and_stop(q)
    rows = spark.sql("SELECT * FROM sess_test").collect()
    # mid-batch close: user 1's first session (2 events, sum 3.0) is
    # emitted; the still-open trailing sessions wait for the timeout
    closed = {
        (r["user_id"], r["n_events"], r["sum_value"]) for r in rows
    }
    assert (1, 2, 3.0) in closed


def test_streaming_dedup_first_seen_wins(spark, tmp_path):
    # Real stream (file source, availableNow drain): three docs, two
    # sharing a fingerprint after normalization — one survives.
    from blackroad_feature_store_spark.streaming.dedup import dedup_stream

    src_dir = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [
            (1, "2026-01-01T00:00:00", "Hello   world"),
            (2, "2026-01-01T00:00:10", "hello world"),  # dup after norm
            (3, "2026-01-01T00:00:20", "something else"),
        ],
        "doc_id long, ts string, text string",
    ).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = dedup_stream(stream, ts_col="ts", text_col="text")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    assert len(rows) == 2
    kept_texts = {r["text"].lower().replace("   ", " ") for r in rows}
    assert kept_texts == {"hello world", "something else"}
    # stream and batch agree on the fingerprint definition
    from blackroad_feature_store_spark.operators.dedup import exact_duplicates

    batch = spark.read.parquet(src_dir)
    batch_groups = exact_duplicates(batch).count()
    assert batch_groups == 2  # same two distinct fingerprints


def test_streaming_sink_replay_guard(spark, tmp_path, streaming_store):
    # A replayed micro-batch (checkpoint recovery re-delivers it) must
    # not double-append: the commit carries (stream_id, batch_id) and
    # the sink skips batches already in the table.
    fs, g = streaming_store

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", "2026-01-01T00:00:00", 5, "Oslo")],
        "user_id string, ts string, clicks int, city string",
    ).write.parquet(src_dir)

    stream = spark.readStream.schema(
        "user_id string, ts string, clicks int, city string"
    ).parquet(src_dir)
    q = start_ingest(
        fs, g.id, stream,
        entity_col="user_id", ts_col="ts", value_cols=["clicks", "city"],
        checkpoint=str(tmp_path / "ckpt"), trigger_available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"
    assert fs.records_df(g.id).count() == 1

    stream_id = str(tmp_path / "ckpt")
    import os
    stream_id = os.path.abspath(stream_id)
    assert fs.stream_batch_committed(stream_id, 0)
    assert not fs.stream_batch_committed(stream_id, 1)
    assert not fs.stream_batch_committed(stream_id + "-other", 0)

    # Simulate the replay the checkpoint would perform after a crash
    # between sink-commit and checkpoint-commit: deliver batch 0 again.
    batch_df = fs.records_df(g.id)
    before = fs.current_version
    fs._stage_and_commit(  # what the sink would do WITHOUT the guard
        batch_df, op="stream-append",
        meta={"stream_id": stream_id, "batch_id": 0},
    ) if not fs.stream_batch_committed(stream_id, 0) else None
    assert fs.current_version == before
    assert fs.records_df(g.id).count() == 1


def test_stream_stream_interval_join(spark, tmp_path):
    # Two real streams (file sources, availableNow): impressions joined
    # to conversions within 5 minutes of the impression, same user.
    from blackroad_feature_store_spark.streaming.joins import interval_join

    imp_dir, conv_dir = str(tmp_path / "imp"), str(tmp_path / "conv")
    spark.createDataFrame(
        [
            ("u1", "2026-01-01T00:00:00", "ad_a"),
            ("u2", "2026-01-01T00:01:00", "ad_b"),
            ("u3", "2026-01-01T00:02:00", "ad_c"),
        ],
        "user string, imp_ts string, ad string",
    ).write.parquet(imp_dir)
    spark.createDataFrame(
        [
            ("u1", "2026-01-01T00:03:00"),   # within 5 min of u1's imp
            ("u2", "2026-01-01T00:30:00"),   # too late for u2's imp
            ("u4", "2026-01-01T00:02:30"),   # no matching impression
        ],
        "user string, conv_ts string",
    ).write.parquet(conv_dir)

    imps = (
        spark.readStream.schema("user string, imp_ts string, ad string")
        .parquet(imp_dir)
        .withColumn("imp_ts", F.col("imp_ts").cast("timestamp"))
    )
    convs = (
        spark.readStream.schema("user string, conv_ts string")
        .parquet(conv_dir)
        .withColumn("conv_ts", F.col("conv_ts").cast("timestamp"))
    )
    joined = interval_join(
        imps, convs, key="user", left_ts="imp_ts", right_ts="conv_ts",
        max_delay="5 minutes",
    ).select(imps["user"], "ad", "imp_ts", "conv_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    rows = spark.sql("SELECT * FROM ss_join_out").collect()
    assert [(r["user"], r["ad"]) for r in rows] == [("u1", "ad_a")]


def test_materialize_windowed_features_asof_visible(spark, tmp_path):
    """Streaming feature engineering end-to-end: event stream ->
    watermarked windowed agg -> features in the store -> as-of read."""
    from blackroad_feature_store_spark.streaming.ingest import (
        materialize_windowed_features,
    )

    fs = FeatureStore(spark, str(tmp_path / "fs_mwf"))
    fs.register_feature("n", "event", "int")
    fs.register_feature("sum_value", "event", "float")
    g = fs.create_group(
        "hourly_counts", ["n", "sum_value"], "event_type",
        frequency="streaming",
    )

    src_dir = str(tmp_path / "mwf_src")
    def write_events(rows, path):
        spark.createDataFrame(
            rows, "ts_s string, event_type string, value double"
        ).select(
            F.col("ts_s").cast("timestamp").alias("ts"),
            "event_type", "value",
        ).write.mode("append").parquet(path)

    write_events(
        [
            ("2026-01-01T00:10:00", "click", 1.0),
            ("2026-01-01T00:40:00", "click", 2.0),
            ("2026-01-01T01:10:00", "view", 5.0),
        ],
        src_dir,
    )
    # A far-future sentinel in its own file pushes the watermark past
    # every window of interest (append mode only emits closed windows).
    write_events([("2026-01-02T12:00:00", "heartbeat", 0.0)], src_dir)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = materialize_windowed_features(
        fs, g.id, stream, ts_col="ts", key_col="event_type",
        checkpoint=str(tmp_path / "mwf_ckpt"),
        window_duration="1 hour", watermark="30 minutes",
        trigger_available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"

    # The 00:00 click window (2 events, sum 3.0) is a feature snapshot
    # timestamped at window end 01:00 — visible to as-of reads at/after
    # that instant, invisible before (no leakage).
    assert fs.get_features(g.id, "click", as_of="2026-01-01T01:00:00") == {
        "n": 2, "sum_value": 3.0,
    }
    assert fs.get_features(g.id, "click", as_of="2026-01-01T00:59:59") is None
    assert fs.get_features(g.id, "view", as_of="2026-01-01T03:00:00") == {
        "n": 1, "sum_value": 5.0,
    }
    # The commit log records the stream's batches as feature commits.
    assert any(e["op"] == "stream-features" for e in fs.history())


def test_stream_static_feature_enrichment(spark, tmp_path, streaming_store):
    """Stream-static join: events enriched with the store's latest
    feature snapshot per entity (online-inference read path)."""
    from blackroad_feature_store_spark.streaming.joins import (
        enrich_with_features,
    )

    fs, g = streaming_store
    fs.write_features(g.id, "u1", {"clicks": 5, "city": "berlin"},
                      timestamp="2026-01-01T00:00:00")
    fs.write_features(g.id, "u1", {"clicks": 9, "city": "berlin"},
                      timestamp="2026-02-01T00:00:00")

    src_dir = str(tmp_path / "enrich_src")
    spark.createDataFrame(
        [("u1", "view"), ("u2", "click")], "user string, action string"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("user string, action string").parquet(
        src_dir
    )
    out = enrich_with_features(
        stream, fs, g.id, entity_col="user", features=["clicks", "city"]
    )
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    rows = {r["user"]: r for r in spark.sql(
        "SELECT * FROM enriched_out").collect()}
    # Latest snapshot wins; JSON-encoded cell values come back verbatim.
    assert rows["u1"]["feature_clicks"] == "9"
    assert rows["u1"]["feature_city"] == '"berlin"'
    # Unknown entity keeps the event (left join) with null features.
    assert rows["u2"]["feature_clicks"] is None


def test_enrichment_as_of_string_pins_snapshot(spark, tmp_path, streaming_store):
    from blackroad_feature_store_spark.streaming.joins import (
        enrich_with_features,
    )

    fs, g = streaming_store
    fs.write_features(g.id, "u1", {"clicks": 5, "city": "x"},
                      timestamp="2026-01-01T00:00:00")
    fs.write_features(g.id, "u1", {"clicks": 9, "city": "x"},
                      timestamp="2026-02-01T00:00:00")
    src = str(tmp_path / "enrich_asof_src")
    spark.createDataFrame([("u1",)], "user string").write.parquet(src)
    stream = spark.readStream.schema("user string").parquet(src)
    out = enrich_with_features(
        stream, fs, g.id, entity_col="user", features=["clicks"],
        as_of="2026-01-15T00:00:00",  # ISO string accepted
    )
    q = (
        out.writeStream.format("memory").queryName("enrich_asof")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    row = spark.sql("SELECT * FROM enrich_asof").collect()[0]
    assert row["feature_clicks"] == "5"  # pinned before the Feb update


def test_drain_and_stop_propagates_stream_failure(spark, tmp_path):
    # A stream that dies mid-drain must raise its own error from
    # drain_and_stop, not silently hand back a partial memory sink.
    from blackroad_feature_store_spark.streaming.stateful import (
        drain_and_stop,
        sessionize_stream,
    )

    src_dir = str(tmp_path / "bad_sess")
    spark.createDataFrame(
        [
            # two sessions for user 1 → batch 0 EMITS the closed first
            # session, which forces the poisoned column to evaluate
            (1, "2026-01-01T00:00:00", 1.0),
            (1, "2026-01-01T02:00:00", 2.0),
        ],
        "user_id long, ts_s string, value double",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src_dir)
    sessions = sessionize_stream(stream, gap="30 minutes")
    # Poison the sink side: a UDF that throws on the first emitted row.
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def boom(x):
        raise RuntimeError("poisoned sink")

    q = (
        sessions.withColumn("user_id", boom("user_id"))
        .writeStream.format("memory")
        .queryName("bad_sess_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bad_ckpt"))
        .start()
    )
    with pytest.raises(Exception):
        drain_and_stop(q, timeout=120)


def test_observe_quality_metrics_per_microbatch(spark, tmp_path):
    """`observe_quality` on a STREAMING frame: the metrics arrive in
    every micro-batch's StreamingQueryProgress.observedMetrics — the
    live data-quality hook, costing the stream no extra pass."""
    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.operators.quality import (
        observe_quality,
    )

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -4.0), (4, 2.0)],
        "id long, price double",
    ).write.parquet(src_dir)

    stream = spark.readStream.schema("id long, price double").parquet(
        src_dir
    )
    observed, _obs = observe_quality(
        stream,
        null_cols=["price"],
        constraints={"neg_price": F.col("price") < 0},
        name="stream_quality",
    )
    q = (
        observed.writeStream.format("memory")
        .queryName("obs_sink")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt_obs")
        )
        .start()
    )
    assert q.awaitTermination(600), "drain did not finish"
    # Collect observed metrics across all progress reports.
    metrics = {}
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else None
        if om and "stream_quality" in om:
            m = om["stream_quality"]
            metrics["n_rows"] = metrics.get("n_rows", 0) + m["n_rows"]
            metrics["null_price"] = (
                metrics.get("null_price", 0) + m["null_price"]
            )
            metrics["neg_price"] = (
                metrics.get("neg_price", 0) + m["neg_price"]
            )
    assert metrics == {"n_rows": 4, "null_price": 1, "neg_price": 1}
    assert spark.table("obs_sink").count() == 4


def test_streaming_ingest_auto_compacts_over_threshold(
    spark, tmp_path, streaming_store
):
    """auto_compact_max_files: many tiny per-batch commits must get
    folded into right-sized files by the in-stream OPTIMIZE loop —
    and the data must be byte-identical afterward."""
    fs, g = streaming_store
    src_dir = str(tmp_path / "src_ac")
    # maxFilesPerTrigger=1 -> one micro-batch (=commit =file) per file
    rows = [
        (f"u{i}", f"2026-01-0{1 + i % 5}T00:00:00", i, "X")
        for i in range(6)
    ]
    for i, r in enumerate(rows):
        spark.createDataFrame(
            [r], "user_id string, ts string, clicks int, city string"
        ).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(
            "user_id string, ts string, clicks int, city string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = start_ingest(
        fs,
        g.id,
        stream,
        entity_col="user_id",
        ts_col="ts",
        value_cols=["clicks", "city"],
        checkpoint=str(tmp_path / "ckpt_ac"),
        trigger_available_now=True,
        auto_compact_max_files=3,
    )
    assert q.awaitTermination(600), "drain did not finish"
    files = set(fs.records_df(g.id).inputFiles())
    # 6 single-row commits with threshold 3: the loop compacted at
    # least once, so live files ≪ commits.
    assert len(files) <= 4
    ops = [h["op"] for h in fs.history()]
    assert "compact" in ops
    # Data intact after compaction(s).
    assert fs.records_df(g.id).count() == 6
    assert fs.get_features(g.id, "u3") == {"clicks": 3, "city": "X"}


def test_stream_stream_interval_join_left_outer_emits_after_watermark(
    spark, tmp_path
):
    """Left-outer interval join EXECUTED: an impression with no
    conversion must emit with NULLs — but only after the global
    watermark passes its matching horizon. A second wave of far-future
    events on BOTH streams advances the watermark (it is the MIN
    across sources); the advancers themselves stay pending."""
    from blackroad_feature_store_spark.streaming.joins import interval_join

    # Fixture discipline (flake diagnosed via recentProgress): each
    # wave is ONE file (coalesce) because a 2-row write emits two
    # part files with the SAME mtime, and the file source's order
    # within an mtime tie is arbitrary — if u2's file (00:01)
    # processed before u1's (00:00), the watermark (max - threshold)
    # landed exactly ON u1's timestamp and the join's late filter
    # dropped the row. late_threshold=10min additionally guarantees
    # no intra-wave ordering can ever push the watermark onto a
    # wave-1 event (max wave-1 ts 00:03 - 10min < min ts 00:00).
    imp_dir, conv_dir = str(tmp_path / "imp_lo"), str(tmp_path / "conv_lo")
    spark.createDataFrame(
        [("u1", "2026-01-01T00:00:00", "ad_a"),
         ("u2", "2026-01-01T00:01:00", "ad_b")],
        "user string, imp_ts string, ad string",
    ).coalesce(1).write.parquet(imp_dir)
    spark.createDataFrame(
        [("u1", "2026-01-01T00:03:00")],
        "user string, conv_ts string",
    ).coalesce(1).write.parquet(conv_dir)
    # wave 2: watermark advancers hours ahead, one per side
    spark.createDataFrame(
        [("adv", "2026-01-01T06:00:00", "ad_z")],
        "user string, imp_ts string, ad string",
    ).coalesce(1).write.mode("append").parquet(imp_dir)
    spark.createDataFrame(
        [("adv2", "2026-01-01T06:00:00")],
        "user string, conv_ts string",
    ).coalesce(1).write.mode("append").parquet(conv_dir)

    imps = (
        spark.readStream.schema("user string, imp_ts string, ad string")
        .option("maxFilesPerTrigger", "1")
        .parquet(imp_dir)
        .withColumn("imp_ts", F.col("imp_ts").cast("timestamp"))
    )
    convs = (
        spark.readStream.schema("user string, conv_ts string")
        .option("maxFilesPerTrigger", "1")
        .parquet(conv_dir)
        .withColumn("conv_ts", F.col("conv_ts").cast("timestamp"))
    )
    joined = interval_join(
        imps, convs, key="user", left_ts="imp_ts", right_ts="conv_ts",
        max_delay="5 minutes", late_threshold="10 minutes",
        how="leftOuter",
    ).select(imps["user"], "ad", "conv_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_lojoin_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    # generous bound: under full-suite CPU contention the multi-batch
    # drain has been observed to exceed 180s; an expired timeout here
    # reads the memory sink HALF-FILLED and fails on missing rows —
    # assert the drain actually finished so a timeout is a clear
    # failure, not a phantom correctness one
    assert q.awaitTermination(600), "availableNow drain did not finish"

    def read_rows():
        return {
            r["user"]: r
            for r in spark.sql("SELECT * FROM ss_lojoin_out").collect()
        }

    rows = read_rows()
    if "u2" not in rows:
        # Documented Spark semantics: stream-stream OUTER join NULL
        # emissions are deferred until a watermark-advancing batch
        # AFTER the matching horizon passes, and an availableNow run
        # may terminate before that no-data batch fires (observed only
        # under full-suite load). A real pipeline gets the row on its
        # next run — mirror that: restart on the SAME checkpoint.
        q2 = (
            joined.writeStream.format("memory")
            .queryName("ss_lojoin_out2")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
            .start()
        )
        assert q2.awaitTermination(600), "restart drain did not finish"
        extra = {
            r["user"]: r
            for r in spark.sql("SELECT * FROM ss_lojoin_out2").collect()
        }
        rows.update(extra)
    assert rows["u1"]["conv_ts"] is not None          # matched pair
    assert rows["u2"]["conv_ts"] is None              # watermark-evicted NULL
    # the far-future advancer's own horizon hasn't passed: still pending
    assert "adv" not in rows


def test_streaming_ingest_enforces_check_constraints(
    spark, tmp_path, streaming_store
):
    """Constraints guard EVERY insert path: a streaming micro-batch
    with a violating row must fail the batch (surfacing the
    ConstraintViolationError through the stream) and leave nothing
    committed."""
    fs, g = streaming_store
    fs.add_constraint(g.id, "clicks_nonneg",
                      "TRY_CAST(feature_values['clicks'] AS INT) >= 0")
    src_dir = str(tmp_path / "src_cc")
    spark.createDataFrame(
        [("u1", "2026-01-01T00:00:00", -5, "X")],
        "user_id string, ts string, clicks int, city string",
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "user_id string, ts string, clicks int, city string"
    ).parquet(src_dir)
    q = start_ingest(
        fs, g.id, stream,
        entity_col="user_id", ts_col="ts",
        value_cols=["clicks", "city"],
        checkpoint=str(tmp_path / "ckpt_cc"),
        trigger_available_now=True,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="clicks_nonneg"):
        assert q.awaitTermination(600), "drain did not finish"
        if q.exception() is not None:
            raise q.exception()
    assert fs.records_df(g.id).count() == 0  # nothing landed


def test_sessionize_event_time_timeout_closes_by_watermark(
    spark, tmp_path
):
    """Event-time sessionization EXECUTED: u1's trailing session must
    close because the WATERMARK (advanced by a later event) passed
    last_seen + gap — no wall-clock involved; the advancer's own
    session stays open."""
    from blackroad_feature_store_spark.streaming.stateful import (
        sessionize_stream,
    )

    src = str(tmp_path / "sess_et")
    # wave 1: u1 has two bursts separated by > gap (30 min)
    spark.createDataFrame(
        [
            (1, "2026-01-01T00:00:00", 1.0),
            (1, "2026-01-01T00:05:00", 2.0),
            (1, "2026-01-01T01:00:00", 3.0),   # new session (55m gap)
        ],
        "user_id long, ts string, value double",
    ).coalesce(1).write.mode("append").parquet(src)  # ONE file = one batch
    # wave 2: far-future advancer on another key pushes the watermark
    # beyond u1's last_seen + gap + delay
    spark.createDataFrame(
        [(99, "2026-01-01T06:00:00", 0.0)],
        "user_id long, ts string, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sessions = sessionize_stream(
        stream, gap="30 minutes", event_time=True,
        watermark_delay="1 minute",
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_et_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .start()
    )
    # Unlike processing-time timers, event-time timeouts never schedule
    # wall-clock batches: availableNow terminates on its own.
    assert q.awaitTermination(600), "drain did not finish"
    rows = spark.sql(
        "SELECT * FROM sess_et_out ORDER BY user_id, session_start"
    ).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # u1: the mid-batch close AND the watermark-timeout close
    assert len(by_user[1]) == 2
    first, second = by_user[1]
    assert first["n_events"] == 2 and first["sum_value"] == 3.0
    assert second["n_events"] == 1 and second["sum_value"] == 3.0
    assert second["closed"] is True
    # the advancer's session is still open: nothing emitted for u99
    assert 99 not in by_user


def test_streaming_neardup_matches_batch_lsh(spark, tmp_path):
    """Streaming near-dup (foreachBatch incremental LSH against a
    persisted parquet signature store): drained over two micro-batches
    it must find EXACTLY the pairs the batch LSH finds on the full
    corpus — cross-batch pairs included (the case exact streaming
    dedup cannot catch), and the signature store must hold every doc."""
    from blackroad_feature_store_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from blackroad_feature_store_spark.streaming.neardup import (
        start_neardup_stream,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "an entirely different document about spark physical planning"
    docs = [
        (1, t1),
        (2, t2),
        (3, t1 + " tail"),        # near-dup of 1
        (4, "unique words only here zebra quartz"),
        (5, t1),                  # exact dup of 1 (cross-batch)
        (6, t2 + " with a tail"), # near-dup of 2 (cross-batch)
    ]
    src_dir = str(tmp_path / "nd_src")
    # two files -> maxFilesPerTrigger=1 gives two real micro-batches
    spark.createDataFrame(docs[:4], "doc_id long, text string").coalesce(
        1
    ).write.parquet(src_dir)
    spark.createDataFrame(docs[4:], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src_dir)

    sig_path = str(tmp_path / "nd_sigs")
    pairs_path = str(tmp_path / "nd_pairs")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = start_neardup_stream(
        stream,
        sig_path,
        pairs_path,
        checkpoint=str(tmp_path / "nd_ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert got == want
    assert (1, 5) in got  # cross-batch exact dup was caught
    sigs = spark.read.parquet(sig_path)
    assert sigs.select("doc_id").distinct().count() == 6


def test_streaming_neardup_replay_idempotent(spark, tmp_path):
    """foreachBatch re-delivers a batch after a failure between write
    and checkpoint commit; processing the same batch_id twice must
    leave both stores IDENTICAL to one processing (dynamic partition
    overwrite + exclude-current-batch reads)."""
    from blackroad_feature_store_spark.streaming.neardup import (
        process_neardup_batch,
    )

    t = "the quick brown fox jumps over the lazy dog once more"
    sig_path = str(tmp_path / "sigs")
    pairs_path = str(tmp_path / "pairs")
    b0 = spark.createDataFrame(
        [(1, t), (2, "totally different content here")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(3, t)], "doc_id long, text string"  # dup of 1, prior batch
    )
    process_neardup_batch(b0, 0, sig_path, pairs_path)
    process_neardup_batch(b1, 1, sig_path, pairs_path)
    once_pairs = sorted(
        map(tuple, spark.read.parquet(pairs_path).collect())
    )
    once_sigs = sorted(map(tuple, spark.read.parquet(sig_path).collect()))
    # replay batch 1 (the failure-recovery path)
    process_neardup_batch(b1, 1, sig_path, pairs_path)
    assert sorted(
        map(tuple, spark.read.parquet(pairs_path).collect())
    ) == once_pairs
    assert sorted(
        map(tuple, spark.read.parquet(sig_path).collect())
    ) == once_sigs
    # and the cross-batch pair is present exactly once
    flat = {(r["id_a"], r["id_b"]) for r in
            spark.read.parquet(pairs_path).collect()}
    assert (1, 3) in flat


def test_neardup_missing_store_is_empty_but_corrupt_store_raises(
    spark, tmp_path
):
    """Only a store that does not exist yet reads as "empty seen-set".
    A corrupt signature store must fail the micro-batch loudly —
    silently treating it as empty would permanently miss every
    cross-batch pair (VERDICT r8 / ADVICE r8)."""
    import pytest as _pytest

    from blackroad_feature_store_spark.streaming.neardup import (
        process_neardup_batch,
    )

    batch = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    # missing store: the batch runs against an empty seen-set
    missing = str(tmp_path / "never_written")
    process_neardup_batch(batch, 5, missing, str(tmp_path / "pairs0"))
    assert spark.read.parquet(str(tmp_path / "pairs0")).count() == 0
    assert spark.read.parquet(missing).columns == [
        "doc_id", "band", "sig", "batch_id"
    ]

    # corrupt store: an earlier batch's partial is not parquet
    corrupt = tmp_path / "corrupt_sigs" / "batch_id=0"
    corrupt.mkdir(parents=True)
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception) as exc_info:
        process_neardup_batch(
            batch, 5, str(tmp_path / "corrupt_sigs"),
            str(tmp_path / "pairs1"),
        )
    # must NOT have been swallowed into the empty-frame path
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_streaming_neardup_checkpoint_restart_recovery(spark, tmp_path):
    """Kill-and-resume certification (VERDICT r8 #4): the stream is
    crashed AFTER batch 1's stores are written but BEFORE the
    checkpoint commit — the worst-case failure point — then restarted
    on the SAME checkpoint. The resumed stream must re-deliver batch 1
    (same batch_id, same offsets), replay it idempotently, finish the
    remaining batch, and end bit-identical to an uninterrupted run."""
    from blackroad_feature_store_spark.streaming.neardup import (
        process_neardup_batch,
        start_neardup_stream,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "an entirely different document about spark physical planning"
    batches = [
        [(1, t1), (2, t2)],
        [(3, t1 + " tail"), (4, "unique words only zebra quartz")],
        [(5, t1), (6, t2 + " with a tail")],
    ]
    src = str(tmp_path / "src")
    for b in batches:
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def read_stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # --- uninterrupted reference run ---
    ref_sigs = str(tmp_path / "ref_sigs")
    ref_pairs = str(tmp_path / "ref_pairs")
    q = start_neardup_stream(
        read_stream(), ref_sigs, ref_pairs,
        checkpoint=str(tmp_path / "ref_ckpt"), available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"
    assert not q.isActive

    # --- crashed run: process batch 1 FULLY, then die pre-commit ---
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def poisoned(batch_df, batch_id):
        process_neardup_batch(batch_df, batch_id, sigs, pairs)
        if batch_id == 1:
            raise RuntimeError("simulated crash after write, pre-commit")

    qc = (
        read_stream()
        .writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        qc.awaitTermination(600)
    except Exception:
        pass  # StreamingQueryException — the simulated crash
    assert qc.exception() is not None
    # batch 1's data IS on disk (the uncommitted leftovers)
    assert {
        r["batch_id"]
        for r in spark.read.parquet(sigs).select("batch_id").collect()
    } == {0, 1}

    # --- resume on the same checkpoint with the normal sink ---
    qr = start_neardup_stream(
        read_stream(), sigs, pairs, checkpoint=ckpt, available_now=True
    )
    assert qr.awaitTermination(600), "drain did not finish"
    assert qr.exception() is None

    def snap(path):
        return sorted(
            map(tuple, spark.read.parquet(path).drop("batch_id").collect())
        )

    assert snap(sigs) == snap(ref_sigs)
    assert snap(pairs) == snap(ref_pairs)
    # and the batch_id layout itself matches (replay overwrote 1)
    assert sorted(
        map(tuple, spark.read.parquet(pairs).collect())
    ) == sorted(map(tuple, spark.read.parquet(ref_pairs).collect()))


def test_stats_partial_replay_is_idempotent(spark, tmp_path):
    """foreachBatch contract: re-running a batch with the same
    batch_id (crash between write and checkpoint commit) dynamically
    overwrites the batch's own partition with identical rows — the
    store never double counts."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")
    b0 = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None)],
        "event_type string, value double",
    )
    process_stats_batch(b0, 0, store, ["event_type"], "value")
    once = sorted(map(tuple, merge_stats(spark, store).collect()))
    process_stats_batch(b0, 0, store, ["event_type"], "value")  # replay
    twice = sorted(map(tuple, merge_stats(spark, store).collect()))
    assert once == twice
    row = {r["event_type"]: r for r in merge_stats(spark, store).collect()}
    assert row["a"]["n"] == 2 and row["a"]["sum_value"] == 4.0
    assert row["b"]["n_null"] == 1 and row["b"]["mean_value"] is None


def test_stats_merge_equals_batch_recompute(spark, tmp_path):
    """The monoid-fold property: folding per-batch partials equals one
    global aggregation, whatever the batch split."""
    import math
    import random

    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
    )

    rng = random.Random(7)
    rows = [
        (rng.choice("xyz"), rng.choice([None, rng.uniform(-5, 5)]))
        for _ in range(200)
    ]
    store = str(tmp_path / "stats")
    for bid in range(4):  # uneven split incl. an empty batch
        chunk = rows[bid * 70 : (bid + 1) * 70]
        df = spark.createDataFrame(
            chunk or [], "event_type string, value double"
        )
        process_stats_batch(df, bid, store, ["event_type"], "value")
    merged = {r["event_type"]: r for r in merge_stats(spark, store).collect()}
    full = {
        r["event_type"]: r
        for r in spark.createDataFrame(
            rows, "event_type string, value double"
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "n_null"
            ),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(merged) == set(full)
    for k in full:
        assert merged[k]["n"] == full[k]["n"]
        assert merged[k]["n_null"] == full[k]["n_null"]
        assert merged[k]["min_value"] == full[k]["min_value"]
        assert merged[k]["max_value"] == full[k]["max_value"]
        assert math.isclose(
            merged[k]["sum_value"], full[k]["sum_value"], rel_tol=1e-12
        )


def test_stats_missing_store_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from blackroad_feature_store_spark.streaming.stats import merge_stats

    with pytest.raises(AnalysisException, match="does not exist yet"):
        merge_stats(spark, str(tmp_path / "nope"))


def test_streaming_stats_checkpoint_restart_recovery(spark, tmp_path):
    """Kill-and-resume for the stats maintainer: crash AFTER batch 1's
    partial is written but BEFORE the checkpoint commit, restart on the
    same checkpoint — the resumed stream replays batch 1 idempotently
    and the merged stats equal an uninterrupted run's."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
        start_stats_stream,
    )

    batches = [
        [(1, "a", 1.0), (2, "b", 2.0)],
        [(3, "a", 3.0), (4, "c", None)],
        [(5, "b", -1.0), (6, "a", 0.5)],
    ]
    src = str(tmp_path / "src")
    for b in batches:
        spark.createDataFrame(
            b, "event_id long, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    def read_stream():
        return (
            spark.readStream.schema(
                "event_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    ref_store = str(tmp_path / "ref_stats")
    q = start_stats_stream(
        read_stream(), ref_store, str(tmp_path / "ref_ckpt"),
        ["event_type"], "value", available_now=True,
    )
    assert q.awaitTermination(600), "drain did not finish"
    assert q.exception() is None

    store = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")

    def poisoned(batch_df, batch_id):
        process_stats_batch(batch_df, batch_id, store, ["event_type"], "value")
        if batch_id == 1:
            raise RuntimeError("simulated crash after write, pre-commit")

    qc = (
        read_stream()
        .writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        qc.awaitTermination(600)
    except Exception:
        pass
    assert qc.exception() is not None

    qr = start_stats_stream(
        read_stream(), store, ckpt, ["event_type"], "value",
        available_now=True,
    )
    assert qr.awaitTermination(600), "drain did not finish"
    assert qr.exception() is None

    assert sorted(
        map(tuple, merge_stats(spark, store).collect())
    ) == sorted(map(tuple, merge_stats(spark, ref_store).collect()))


def test_stats_compaction_preserves_merge_and_survives_crashes(
    spark, tmp_path
):
    """compact_stats folds committed batches behind an atomic marker:
    merge is identical before/after, new batches keep accumulating,
    and every crash point (fold written but marker not flipped; marker
    flipped but retired partitions not deleted) leaves merge correct."""
    import os as _os
    import shutil as _sh

    from blackroad_feature_store_spark.streaming.stats import (
        compact_stats,
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_type string, value double"
    )
    process_stats_batch(mk([("a", 1.0), ("b", 2.0)]), 0, store,
                        ["event_type"], "value")
    process_stats_batch(mk([("a", 3.0), ("c", None)]), 1, store,
                        ["event_type"], "value")
    process_stats_batch(mk([("b", -1.0)]), 2, store,
                        ["event_type"], "value")

    def snap():
        return sorted(map(tuple, merge_stats(spark, store).collect()))

    before = snap()

    # crash between fold write and marker flip: a floor= directory
    # exists but is not referenced -> merge unchanged
    stale_floor = _os.path.join(store, "compacted", "floor=1")
    _os.makedirs(_os.path.dirname(stale_floor), exist_ok=True)
    mk([("zzz", 99.0)]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(0).cast("bigint").alias("n_null"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).write.mode("overwrite").parquet(stale_floor)
    assert snap() == before  # unreferenced fold is invisible

    compact_stats(spark, store, upto_batch=1)
    assert snap() == before  # compaction changes nothing observable
    # retired batch partitions are gone, the fold is live
    assert not _os.path.exists(_os.path.join(store, "batches",
                                             "batch_id=0"))
    assert _os.path.exists(_os.path.join(store, "compacted", "floor=1"))

    # crash after marker flip, before cleanup: resurrect a retired
    # batch partition -> merge must IGNORE it (batch_id <= floor)
    _os.makedirs(_os.path.join(store, "batches", "batch_id=0"))
    mk([("a", 1000.0)]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(0).cast("bigint").alias("n_null"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).write.mode("overwrite").parquet(
        _os.path.join(store, "batches", "batch_id=0")
    )
    assert snap() == before

    # accumulation continues after compaction; re-compacting folds the
    # previous fold + the new batches
    process_stats_batch(mk([("a", 10.0)]), 3, store,
                        ["event_type"], "value")
    row = {r["event_type"]: r for r in merge_stats(spark, store).collect()}
    assert row["a"]["n"] == 3 and row["a"]["sum_value"] == 14.0
    compact_stats(spark, store, upto_batch=3)
    row2 = {r["event_type"]: r for r in merge_stats(spark, store).collect()}
    assert row2["a"]["n"] == 3 and row2["a"]["sum_value"] == 14.0
    assert not _os.path.exists(_os.path.join(store, "compacted",
                                             "floor=1"))

    # no-op guard: compacting at/below the live floor does nothing
    compact_stats(spark, store, upto_batch=2)
    assert {r["event_type"]: r["n"] for r in
            merge_stats(spark, store).collect()}["a"] == 3
    _sh.rmtree(store)


def test_stats_multi_feature_columns(spark, tmp_path):
    """value_col as a LIST melts to one partial row per feature; the
    feature key folds through merge and compaction like any group
    column."""
    from blackroad_feature_store_spark.streaming.stats import (
        compact_stats,
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "grp string, age double, score double"
    )
    process_stats_batch(
        mk([("a", 30.0, 0.5), ("a", 40.0, None)]), 0, store,
        ["grp"], ["age", "score"],
    )
    process_stats_batch(
        mk([("a", 20.0, 0.9), ("b", 10.0, 0.1)]), 1, store,
        ["grp"], ["age", "score"],
    )
    out = {
        (r["grp"], r["feature"]): r
        for r in merge_stats(spark, store).collect()
    }
    assert out[("a", "age")]["n"] == 3
    assert out[("a", "age")]["sum_value"] == 90.0
    assert out[("a", "age")]["min_value"] == 20.0
    assert out[("a", "score")]["n_null"] == 1
    assert out[("a", "score")]["mean_value"] == 0.7
    assert out[("b", "score")]["max_value"] == 0.1
    before = sorted(map(tuple, merge_stats(spark, store).collect()))
    compact_stats(spark, store, upto_batch=0)
    assert sorted(map(tuple, merge_stats(spark, store).collect())) == before


def test_histogram_partials_merge_compact_and_psi(spark, tmp_path):
    """Histogram partials share the batch_id/marker machinery: replay
    is idempotent, compaction dispatches to the count fold, and PSI
    against a pinned baseline matches a hand-computed value (incl. the
    completed-bin smoothing for bins and keys missing on one side)."""
    import math

    from blackroad_feature_store_spark.streaming.partials import (
        PartialStore,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        COUNTS,
        merge_histogram,
        partial_histogram,
        process_hist_batch,
        psi_vs_baseline,
    )

    store = str(tmp_path / "hist")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double"
    )
    # bins: [0,10) in 2 bins of width 5; clamping at both edges
    process_hist_batch(mk([("a", 1.0), ("a", 7.0), ("a", -3.0)]),
                       0, store, ["k"], "v", 0.0, 10.0, 2)
    process_hist_batch(mk([("a", 99.0), ("b", 2.0), ("b", None)]),
                       1, store, ["k"], "v", 0.0, 10.0, 2)
    process_hist_batch(mk([("a", 99.0), ("b", 2.0)]),  # replay of 1
                       1, store, ["k"], "v", 0.0, 10.0, 2)
    got = {
        (r["k"], r["bin"]): r["n"]
        for r in merge_histogram(spark, store).collect()
    }
    # a: 1.0,-3.0 clamp→bin0 (2), 7.0,99.0 clamp→bin1 (2); b: bin0=1,
    # NULL excluded
    assert got == {("a", 0): 2, ("a", 1): 2, ("b", 0): 1}

    before = dict(got)
    PartialStore(spark, store, COUNTS).compact(0)  # its own store
    after = {
        (r["k"], r["bin"]): r["n"]
        for r in merge_histogram(spark, store).collect()
    }
    assert after == before

    # PSI: baseline has key "c" the current lacks and vice versa —
    # the keys-union frame must emit both, smoothed
    baseline = spark.createDataFrame(
        [("a", 0, 2), ("a", 1, 2), ("c", 0, 4)],
        "k string, bin int, n long",
    )
    psi = {
        r["k"]: r
        for r in psi_vs_baseline(
            merge_histogram(spark, store), baseline,
            key_cols=["k"], n_bins=2, eps=0.5,
        ).collect()
    }
    assert set(psi) == {"a", "b", "c"}
    # identical distributions -> PSI exactly 0
    assert psi["a"]["psi"] == 0.0
    assert psi["a"]["n_ref"] == 4 and psi["a"]["n_cur"] == 4
    # hand-compute key "b": ref (0+.5)/(0+1)=.5,.5 ; cur (1.5/2, .5/2)
    pr, pc0 = (0.5, 0.5), (1.5 / 2.0, 0.5 / 2.0)
    want_b = sum(
        (a - b) * math.log(a / b) for a, b in zip(pr, pc0)
    )
    assert abs(psi["b"]["psi"] - round(want_b, 6)) < 1e-9
    assert psi["c"]["n_cur"] == 0 and psi["c"]["psi"] > 0


def test_pit_enrich_batch_replay_idempotent_and_correct(spark, tmp_path):
    """The streamed PIT enrichment is per-row as-of correct (no future
    leakage, staleness bound -> NULL) and replaying a batch_id leaves
    the sink identical."""
    from blackroad_feature_store_spark.streaming.joins import (
        process_pit_enrich_batch,
    )

    records = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0, 100),
            (1, "2024-01-03 00:00:00", 30.0, 101),  # future vs spine A
            (2, "2023-12-01 00:00:00", 99.0, 102),  # stale vs 2d bound
        ],
        "user_id long, ts string, value double, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    spine = spark.createDataFrame(
        [
            (7, 1, "2024-01-02 00:00:00"),  # sees 10.0, NOT 30.0
            (8, 2, "2024-01-02 00:00:00"),  # record too stale -> NULL
            (9, 3, "2024-01-02 00:00:00"),  # no records -> NULL
        ],
        "spine_id long, user_id long, spine_ts string",
    ).withColumn("spine_ts", F.col("spine_ts").cast("timestamp"))

    out = str(tmp_path / "enriched")
    kw = dict(on="user_id", spine_ts_col="spine_ts", rec_ts_col="ts",
              tiebreakers=("event_id",), tolerance="2 days")
    process_pit_enrich_batch(spine, 0, records, out, **kw)
    once = sorted(map(tuple, spark.read.parquet(out).collect()))
    process_pit_enrich_batch(spine, 0, records, out, **kw)  # replay
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == once

    rows = {r["spine_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[7]["value"] == 10.0  # future record 30.0 NOT leaked
    assert rows[8]["value"] is None  # stale beyond tolerance
    assert rows[9]["value"] is None  # unknown entity, left join row kept
    assert len(rows) == 3


def test_stats_merge_after_full_compaction(spark, tmp_path):
    """Compacting EVERY batch leaves batches/ with no live partition —
    merge must serve purely from the compacted fold (the empty dir
    fails schema inference, a benign state once a floor is live), and
    a subsequent batch resumes accumulation normally."""
    from blackroad_feature_store_spark.streaming.stats import (
        compact_stats,
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double"
    )
    process_stats_batch(mk([("a", 1.0)]), 0, store, ["k"], "v")
    process_stats_batch(mk([("a", 2.0)]), 1, store, ["k"], "v")
    before = sorted(map(tuple, merge_stats(spark, store).collect()))
    compact_stats(spark, store, upto_batch=1)  # retires ALL batches
    assert sorted(map(tuple, merge_stats(spark, store).collect())) == before
    process_stats_batch(mk([("a", 4.0)]), 2, store, ["k"], "v")
    row = merge_stats(spark, store).collect()[0]
    assert row["n"] == 3 and row["sum_value"] == 7.0


def test_compact_stats_clamps_future_upto_batch(spark, tmp_path):
    """ADVICE r9 item 1: compacting with an upto_batch beyond the
    newest WRITTEN batch must not flip the floor past it — otherwise
    future micro-batches land with batch_id <= floor and are
    permanently excluded from the fold (silent data loss). The call
    clamps to what exists; with nothing above the floor it is a
    no-op."""
    from blackroad_feature_store_spark.streaming.partials import (
        PartialStore,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        MOMENTS,
        compact_stats,
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")

    def _compaction_floor(path):
        return PartialStore(spark, path, MOMENTS).floor()

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double"
    )
    process_stats_batch(mk([("a", 1.0)]), 0, store, ["k"], "v")
    process_stats_batch(mk([("a", 2.0)]), 1, store, ["k"], "v")

    compact_stats(spark, store, upto_batch=99)  # way beyond newest=1
    assert _compaction_floor(store) == 1  # clamped, not 99

    # batches 2..99 arriving later are ABOVE the floor and count
    process_stats_batch(mk([("a", 4.0)]), 2, store, ["k"], "v")
    row = merge_stats(spark, store).collect()[0]
    assert row["n"] == 3 and row["sum_value"] == 7.0

    # nothing new above the floor -> compaction is a no-op floor-wise
    compact_stats(spark, store, upto_batch=2)
    assert _compaction_floor(store) == 2
    compact_stats(spark, store, upto_batch=50)  # nothing written > 2
    assert _compaction_floor(store) == 2
    row = merge_stats(spark, store).collect()[0]
    assert row["n"] == 3 and row["sum_value"] == 7.0


def test_partial_stats_single_element_list_keeps_feature_column(spark):
    """ADVICE r9 item 3: a LIST value_col always yields the long-form
    schema with a ``feature`` key — even len-1 — so a monitored
    feature list shrinking to one feature across a stream restart
    cannot land a second, incompatible schema in the same store."""
    from blackroad_feature_store_spark.streaming.stats import (
        partial_stats,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 3.0, None)],
        "k string, x double, y double",
    )
    multi = partial_stats(df, ["k"], ["x", "y"])
    single = partial_stats(df, ["k"], ["x"])
    assert single.columns == multi.columns  # both have 'feature'
    assert "feature" in single.columns
    rows = {r["feature"]: r for r in single.collect()}
    assert set(rows) == {"x"}
    assert rows["x"]["n"] == 2 and rows["x"]["sum_value"] == 4.0
    # scalar (string) form keeps the scalar schema
    assert "feature" not in partial_stats(df, ["k"], "x").columns


def test_fold_dispatch_requires_full_expectation_schema(spark, tmp_path):
    """ADVICE r10 #2: a moment store whose user-chosen group columns
    include one named ``total`` (an expectation-store metric name)
    must fold as moments, keeping that column as a group key instead
    of silently consuming it as a summed metric — through compaction
    (whose snapshot is the bare fold) and through merge."""
    from blackroad_feature_store_spark.streaming.stats import (
        compact_stats,
        merge_stats,
        process_stats_batch,
    )

    store = str(tmp_path / "stats")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, total int, v double"
    )
    # batch 0: n=3, sum 5.0; batch 1: n=2 (one NULL), sum 7.0
    process_stats_batch(mk([("a", 10, 1.0), ("a", 10, 2.0),
                            ("a", 10, 2.0)]), 0, store, ["k", "total"], "v")
    process_stats_batch(mk([("a", 10, 7.0), ("a", 10, None)]), 1, store,
                        ["k", "total"], "v")
    compact_stats(spark, store, upto_batch=1)
    for out in (
        spark.read.parquet(f"{store}/compacted/floor=1"),
        merge_stats(spark, store).drop("mean_value"),
    ):
        assert set(out.columns) == {
            "k", "total", "n", "n_null", "sum_value", "min_value",
            "max_value",
        }
        row = out.collect()
        assert len(row) == 1 and row[0]["total"] == 10 and row[0]["n"] == 5
        assert row[0]["sum_value"] == 12.0


def test_mixed_scalar_long_schema_store_raises(spark, tmp_path):
    """ADVICE r10 #3: a store holding BOTH the pre-r11 scalar partial
    schema and the long-form ``feature`` schema (the upgrade scenario
    for a single-element value_col list) raises loudly at merge time
    instead of silently mis-merging across features."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        partial_stats,
        process_stats_batch,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0)], "k string, x double"
    )
    store = str(tmp_path / "store")
    # batch 0: pre-upgrade scalar schema (what the old len-1 shortcut
    # wrote); batch 1: post-upgrade long form with 'feature'
    scalar = partial_stats(df, ["k"], "x")
    scalar.withColumn("batch_id", F.lit(0)).write.partitionBy(
        "batch_id"
    ).parquet(store + "/batches")
    process_stats_batch(df, 1, store, ["k"], ["x"])
    with pytest.raises(ValueError, match="mixes the scalar"):
        merge_stats(spark, store).collect()
    # a pure long-form store still merges fine
    clean = str(tmp_path / "clean")
    process_stats_batch(df, 0, clean, ["k"], ["x"])
    process_stats_batch(df, 1, clean, ["k"], ["x"])
    rows = {r["feature"]: r for r in merge_stats(spark, clean).collect()}
    assert rows["x"]["n"] == 4 and rows["x"]["sum_value"] == 8.0


def test_streaming_unique_gate_counts_cross_batch_duplicates(
    spark, tmp_path
):
    """streaming/quality.py::start_unique_gate_stream (VERDICT r10
    item 5): keys UNIQUE WITHIN each micro-batch but repeated across
    them — the exact case the row-local 'unique' check provably
    under-counts (it would read 0 violations) — must fold to the
    whole-history count(*) - count(distinct). Also pins replay
    idempotence of the batch processor and that the row-local check
    spec still raises."""
    import pytest as _p

    from blackroad_feature_store_spark.streaming.quality import (
        merge_expectations,
        process_unique_gate_batch,
        start_expectations_stream,
        start_unique_gate_stream,
    )

    src = str(tmp_path / "src")
    # batch 1: keys 1..4; batch 2: keys 3..6 (each batch internally
    # unique; 3 and 4 repeat across batches) plus an in-batch dup of 6
    spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "k long"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(3,), (4,), (5,), (6,), (6,)], "k long"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    q = start_unique_gate_stream(
        stream, store, str(tmp_path / "ckpt"), "k", available_now=True
    )
    q.awaitTermination()
    rows = merge_expectations(spark, store).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["check"], r["target"]) == ("unique", "k")
    # 9 rows, 6 distinct -> 3 violations (2 cross-batch + 1 in-batch)
    assert r["total"] == 9 and r["violations"] == 3 and not r["passed"]

    # replay idempotence: both the partial AND the seen-key store are
    # batch_id-partitioned, and the seen read filters batch_id <
    # current — so re-processing a batch (Spark replays after a
    # foreachBatch crash) recomputes the identical partial whether or
    # not the crashed attempt got either write out
    store2 = str(tmp_path / "store2")
    b0 = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    b1 = spark.createDataFrame([(2,), (3,)], "k long")
    process_unique_gate_batch(b0, 0, store2, "k")
    process_unique_gate_batch(b1, 1, store2, "k")
    once = merge_expectations(spark, store2).collect()
    # 5 rows, 3 distinct -> 2 violations (one in-batch, one cross)
    assert once[0]["total"] == 5 and once[0]["violations"] == 2
    process_unique_gate_batch(b1, 1, store2, "k")
    assert merge_expectations(spark, store2).collect() == once

    # the row-local spec is still rejected, pointing at the gate
    with _p.raises(ValueError, match="start_unique_gate_stream"):
        start_expectations_stream(
            stream, store, str(tmp_path / "c2"), [{"check": "unique"}]
        )


def test_unique_gate_seen_key_compaction(spark, tmp_path):
    """streaming/quality.py::compact_seen_keys: folding seen-key
    batch partitions behind the atomic marker must not change any
    subsequent batch's verdict — duplicate-ness against compacted
    history == against the original partitions — and replay of a
    post-compaction batch stays idempotent. Future upto_batch ids
    clamp to the newest landed batch."""
    from blackroad_feature_store_spark.streaming.quality import (
        compact_seen_keys,
        merge_expectations,
        process_unique_gate_batch,
    )

    store = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(r,) for r in rows], "k long"
    )
    process_unique_gate_batch(mk([1, 2]), 0, store, "k")
    process_unique_gate_batch(mk([2, 3]), 1, store, "k")
    compact_seen_keys(spark, store, 1)
    # batch 2 decides against COMPACTED history: 1,3 dup; 4 new
    process_unique_gate_batch(mk([1, 3, 4]), 2, store, "k")
    r = merge_expectations(spark, store).collect()[0]
    # 7 rows, 4 distinct -> 3 violations
    assert r["total"] == 7 and r["violations"] == 3
    # replay of the post-compaction batch is still idempotent
    process_unique_gate_batch(mk([1, 3, 4]), 2, store, "k")
    assert merge_expectations(spark, store).collect()[0] == r
    # clamp: a future id compacts only what is landed, then batch 3
    # still counts exactly
    compact_seen_keys(spark, store, 99)
    process_unique_gate_batch(mk([4, 5]), 3, store, "k")
    r2 = merge_expectations(spark, store).collect()[0]
    assert r2["total"] == 9 and r2["violations"] == 4
    # the seen store now reads one compacted fold + batch 3 only
    import glob

    assert glob.glob(f"{store}/seen/compacted/floor=2")
    live_batches = glob.glob(f"{store}/seen/batches/batch_id=*")
    assert [b.split("=")[-1] for b in live_batches] == ["3"]


def test_duplicate_counts_stateful_operator(spark, tmp_path):
    """streaming/dedup.py::duplicate_counts — the per-key stateful
    (applyInPandasWithState) form of global duplicate accounting for
    modest key cardinality: emits (key, n_rows, n_dup) per batch with
    duplicate-ness decided against ALL history, so the summed n_dup
    across >= 2 real micro-batches equals count(*) - count(distinct)
    over the union."""
    from blackroad_feature_store_spark.streaming.dedup import (
        duplicate_counts,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a",), ("b",), ("b",)], "k string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("a",), ("c",)], "k string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        duplicate_counts(stream, "k")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    # 5 rows, 3 distinct -> 2 duplicates in total, at the right keys:
    # one in-batch ('b' twice in batch 0) and one cross-batch ('a')
    assert sum(r["n_dup"] for r in rows) == 2
    per_key = {}
    for r in rows:
        per_key[r["key"]] = per_key.get(r["key"], 0) + r["n_dup"]
    assert per_key == {"a": 1, "b": 1, "c": 0}


def test_streaming_decontamination_gate_matches_batch(spark, tmp_path):
    """streaming/quality.py::start_decontamination_stream: the fold
    over >= 2 real micro-batches equals the batch decontaminate_winnow
    verdict over the union — a doc with a verbatim >= k+window-1
    normalized-char overlap with the eval set is flagged in whichever
    batch it arrives, clean docs are not, and the eval-set bound
    raises loudly on a corpus-sized frame."""
    import pytest as _p

    from blackroad_feature_store_spark.operators.corpus import (
        decontaminate_winnow,
    )
    from blackroad_feature_store_spark.streaming.quality import (
        eval_winnow_fingerprints,
        merge_expectations,
        start_decontamination_stream,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    # 1,3 contain verbatim >= 11-char normalized overlap (k=8,
    # window=4); 2,4 are clean
    train_rows = [
        (1, "intro text then the quick brown fox appears here"),
        (2, "completely unrelated content about spark plans"),
        (3, "JUMPS   OVER THE LAZY dog is spliced mid sentence"),
        (4, "another clean document with no shared substring"),
    ]
    fps = eval_winnow_fingerprints(bench, k=8, window=4)
    assert fps and all(isinstance(f, int) for f in fps)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        train_rows[:2], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        train_rows[2:], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    q = start_decontamination_stream(
        stream, fps, store, str(tmp_path / "ckpt"), id_col="doc_id",
        k=8, window=4, min_shared=1, available_now=True,
    )
    q.awaitTermination()
    r = merge_expectations(spark, store).collect()
    assert len(r) == 1
    assert (r[0]["check"], r[0]["target"]) == ("decontaminate", "text")
    assert r[0]["total"] == 4 and r[0]["violations"] == 2
    assert not r[0]["passed"]

    # fold == batch recompute over the union, doc for doc
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string"
    )
    batch = decontaminate_winnow(
        train, bench, id_col="doc_id", k=8, window=4, min_shared=1
    )
    flagged = {
        row["doc_id"] for row in batch.collect() if row["contaminated"]
    }
    assert flagged == {1, 3}
    assert r[0]["violations"] == len(flagged)

    # a corpus-sized "eval set" must refuse, not OOM the driver
    with _p.raises(ValueError, match="max_fingerprints"):
        eval_winnow_fingerprints(train, max_fingerprints=2)


def test_streaming_expectations_store(spark, tmp_path):
    """streaming/quality.py: per-batch expectation partials are
    replay-idempotent, fold to EXACTLY the batch check_expectations
    verdict over the union, compact through their own store
    (the EXPECTATION_COUNTS monoid), and 'unique' is
    rejected as non-mergeable."""
    from blackroad_feature_store_spark.operators.expectations import (
        check_expectations,
    )
    from blackroad_feature_store_spark.streaming.partials import (
        PartialStore,
    )
    from blackroad_feature_store_spark.streaming.quality import (
        EXPECTATION_COUNTS,
        merge_expectations,
        process_expectations_batch,
        start_expectations_stream,
    )

    store = str(tmp_path / "exp")
    checks = [
        {"check": "not_null", "col": "v"},
        {"check": "in_range", "col": "v", "min": 0.0, "max": 10.0},
    ]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double"
    )
    b0 = mk([("a", 1.0), ("b", 99.0)])   # one range violation
    b1 = mk([("c", None), ("d", 5.0)])   # one null
    process_expectations_batch(b0, 0, store, checks)
    process_expectations_batch(b1, 1, store, checks)
    process_expectations_batch(b1, 1, store, checks)  # replay

    got = {
        (r["check"], r["target"]): (r["total"], r["violations"], r["passed"])
        for r in merge_expectations(spark, store).collect()
    }
    want = {
        (r["check"], r["target"]): (r["total"], r["violations"], r["passed"])
        for r in check_expectations(b0.unionByName(b1), checks).collect()
    }
    assert got == want  # fold-of-batches == batch recompute, exactly
    assert got[("not_null", "v")] == (4, 1, False)
    assert got[("in_range", "v")] == (4, 1, False)

    PartialStore(spark, store, EXPECTATION_COUNTS).compact(1)
    after = {
        (r["check"], r["target"]): (r["total"], r["violations"], r["passed"])
        for r in merge_expectations(spark, store).collect()
    }
    assert after == want

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unique"):
        process_expectations_batch(
            b0, 2, store, [{"check": "unique", "cols": ["k"]}]
        )
    with _pytest.raises(ValueError, match="unique"):
        start_expectations_stream(
            spark.readStream.format("rate").load(), store,
            str(tmp_path / "ck"), [{"check": "unique", "cols": ["k"]}],
        )


def test_streaming_cms_maintenance_matches_batch_sketch(spark, tmp_path):
    """CMS partials through the shared store machinery: replay
    idempotent, compaction-compatible, and the merged sketch equals
    one batch build over the union — so estimates agree cell-for-cell."""
    from blackroad_feature_store_spark.operators.stats import (
        cms_estimate,
        cms_sketch,
    )
    from blackroad_feature_store_spark.streaming.partials import (
        PartialStore,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        COUNTS,
        merge_cms,
        process_cms_batch,
    )

    store = str(tmp_path / "cms")
    b0 = [("x",)] * 9 + [("y",)] * 2
    b1 = [("x",)] * 1 + [("z",)] * 5
    mk = lambda rows: spark.createDataFrame(rows, "k string")  # noqa: E731
    process_cms_batch(mk(b0), 0, store, "k", depth=3, width=32)
    process_cms_batch(mk(b1), 1, store, "k", depth=3, width=32)
    process_cms_batch(mk(b1), 1, store, "k", depth=3, width=32)  # replay

    merged = merge_cms(spark, store)
    batch = cms_sketch(mk(b0 + b1), "k", depth=3, width=32)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, batch.collect())
    )
    PartialStore(spark, store, COUNTS).compact(0)
    assert sorted(map(tuple, merge_cms(spark, store).collect())) == sorted(
        map(tuple, batch.collect())
    )
    keys = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    est = {
        r["k"]: r["cms_count"]
        for r in cms_estimate(
            merge_cms(spark, store), keys, "k", 3, 32
        ).collect()
    }
    assert est["x"] >= 10 and est["y"] >= 2 and est["z"] >= 5


def test_cluster_drift_partials_fold_equals_recompute(spark, tmp_path):
    """Trained-centroid scoring through the shared stats store: two
    micro-batch partials (one replayed) fold to exactly the per-cluster
    counts of a single batch recompute over the union."""
    import random

    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_predict,
        quantize_vectors,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(80)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    _, cents = kmeans_fit_predict(
        emb, k=4, iterations=2, return_centroids=True
    )
    store = str(tmp_path / "cdrift")

    def score(df):
        return kmeans_assign(quantize_vectors(df), cents).select(
            F.col("id"), F.col("cid").alias("cluster_id")
        )

    b0 = emb.where(F.col("vec_id") < 40)
    b1 = emb.where(F.col("vec_id") >= 40)
    process_stats_batch(score(b0), 0, store, ["cluster_id"], "id")
    process_stats_batch(score(b1), 1, store, ["cluster_id"], "id")
    process_stats_batch(score(b1), 1, store, ["cluster_id"], "id")  # replay

    folded = {
        r.cluster_id: r.n for r in merge_stats(spark, store).collect()
    }
    full = {
        r.cluster_id: r["count"]
        for r in score(emb).groupBy("cluster_id").count().collect()
    }
    assert folded == full


def test_hll_store_fold_replay_and_compaction(spark, tmp_path):
    """Sketch partials: fold estimate tracks the exact distinct of the
    union, replay is a no-op (union idempotence), and the sketch
    store compacts through its own SKETCH_UNION monoid."""
    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.streaming.partials import (
        PartialStore,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        SKETCH_UNION,
        merge_hll,
        process_hll_batch,
    )

    store = str(tmp_path / "hll")

    def mk(rows):
        return spark.createDataFrame(rows, "k string, v string")

    b0 = [("a", f"x{i}") for i in range(300)]
    b1 = [("a", f"x{i}") for i in range(150, 450)] + [
        ("b", f"y{i}") for i in range(100)
    ]
    process_hll_batch(mk(b0), 0, store, ["k"], "v")
    process_hll_batch(mk(b1), 1, store, ["k"], "v")
    process_hll_batch(mk(b1), 1, store, ["k"], "v")  # replay

    def estimates():
        return {
            r.k: r.est
            for r in merge_hll(spark, store)
            .select("k", F.hll_sketch_estimate("sketch").alias("est"))
            .collect()
        }

    est = estimates()
    assert abs(est["a"] - 450) / 450 <= 0.03  # overlap deduped
    assert abs(est["b"] - 100) / 100 <= 0.03
    PartialStore(spark, store, SKETCH_UNION).compact(1)
    assert estimates() == est  # compaction folds sketches losslessly


def test_histogram_quantile_estimator_bounds(spark, tmp_path):
    """The folded-histogram quantile estimate lands within one bin
    width of the exact interpolated percentile on a controlled
    distribution (the catalog query certifies <= 2 bins end-to-end)."""
    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.streaming.stats import (
        merge_histogram,
        process_hist_batch,
    )
    from pyspark.sql.window import Window

    rows = [("k", float(v % 97) + 0.25) for v in range(991)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    store = str(tmp_path / "hist")
    half = 991 // 2
    process_hist_batch(df.limit(half), 0, store, ["event_type"],
                       "value", 0.0, 100.0, 20)
    process_hist_batch(
        df.subtract(df.limit(half)), 1, store, ["event_type"],
        "value", 0.0, 100.0, 20,
    )
    hist = merge_histogram(spark, store)
    wb = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("n").over(wb)).withColumn(
        "tot", F.sum("n").over(wt)
    )
    width = 5.0
    for q in (0.1, 0.5, 0.9):
        pos = F.col("tot") * F.lit(q)
        inbin = (F.col("cum") >= pos) & ((F.col("cum") - F.col("n")) < pos)
        est_col = (
            F.col("bin") * F.lit(width)
            + F.lit(width) * (pos - (F.col("cum") - F.col("n"))) / F.col("n")
        )
        est = cum.where(inbin).agg(F.min(est_col)).collect()[0][0]
        exact = df.agg(F.expr(f"percentile(value, {q})")).collect()[0][0]
        assert abs(est - exact) <= width, (q, est, exact)


def test_unique_gate_compaction_keeps_strict_replay_bound(spark, tmp_path):
    """ADVICE r11: compact_seen_keys clamps to the newest LANDED
    batch, which can include a crashed checkpoint-uncommitted batch.
    The compacted fold persists per-key first-seen batch_id, so the
    replaying batch's strict `batch_id < current` bound still
    excludes its own folded keys and the replayed partial is
    identical."""
    from blackroad_feature_store_spark.streaming.quality import (
        compact_seen_keys,
        merge_expectations,
        process_unique_gate_batch,
    )

    store = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(r,) for r in rows], "k long"
    )
    process_unique_gate_batch(mk([1, 2]), 0, store, "k")
    # batch 1 lands, then crashes before its checkpoint commit;
    # maintenance compacts everything landed — batch 1 included
    process_unique_gate_batch(mk([2, 3]), 1, store, "k")
    before = merge_expectations(spark, store).collect()
    compact_seen_keys(spark, store, 1)
    # the fold carries first-seen batch ids
    comp = spark.read.parquet(f"{store}/seen/compacted")
    got = {r["key"]: r["first_batch"] for r in comp.collect()}
    assert got == {"1": 0, "2": 0, "3": 1}
    # replay of batch 1: its own folded key (3) must be invisible,
    # so the recomputed partial — and the merged verdict — are
    # byte-identical to the pre-crash state
    process_unique_gate_batch(mk([2, 3]), 1, store, "k")
    assert merge_expectations(spark, store).collect() == before

def test_streaming_exact_substr_gate_matches_batch(spark, tmp_path):
    """streaming/quality.py::start_exact_substr_stream: the fold over
    >= 2 real micro-batches equals the whole-corpus exact verdict — a
    doc sharing a verbatim >= L-token window with the eval set is
    flagged in whichever batch it arrives (STRING equality: case and
    token boundaries are exact), clean docs are not, and the eval-set
    bound raises loudly on a corpus-sized frame."""
    import pytest as _p

    from blackroad_feature_store_spark.streaming.quality import (
        eval_exact_substr_grams,
        merge_expectations,
        start_exact_substr_stream,
    )

    span = "alpha beta gamma delta epsilon"  # 5 tokens
    bench = spark.createDataFrame(
        [(0, f"lead-in {span} trailing words here")],
        "doc_id long, text string",
    )
    train_rows = [
        (1, f"copied verbatim: {span} and more"),       # hit
        (2, "completely unrelated content one"),         # clean
        (3, f"{span.upper()} differs by case only ok"),  # clean (verbatim!)
        (4, f"prefix {span} suffix"),                    # hit
    ]
    grams = eval_exact_substr_grams(bench, L=5)
    assert all(isinstance(g, str) for g in grams) and grams

    src = str(tmp_path / "src")
    spark.createDataFrame(
        train_rows[:2], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        train_rows[2:], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    q = start_exact_substr_stream(
        stream, grams, store, str(tmp_path / "ckpt"), id_col="doc_id",
        L=5, min_shared=1, available_now=True,
    )
    q.awaitTermination()
    r = merge_expectations(spark, store).collect()
    assert len(r) == 1
    assert (r[0]["check"], r[0]["target"]) == ("exact_substr", "text")
    assert r[0]["total"] == 4 and r[0]["violations"] == 2
    assert not r[0]["passed"]

    # the eval bound refuses a corpus-sized frame instead of OOMing
    big = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{i}t{j}" for j in range(8)))
         for i in range(40)],
        "doc_id long, text string",
    )
    with _p.raises(ValueError, match="max_grams"):
        eval_exact_substr_grams(big, L=5, max_grams=3)


def test_unique_gate_reads_legacy_key_only_compacted_fold(spark, tmp_path):
    """ADVICE r12: compacted folds written before the ``first_batch``
    column existed carry only ``key``; an upgraded engine must keep
    reading them (keys treated as first seen before every real batch —
    the legacy fold's visible-to-every-replay behavior) instead of
    throwing AnalysisException on both the per-batch read and the next
    compaction."""
    import glob

    from blackroad_feature_store_spark.streaming.quality import (
        compact_seen_keys,
        merge_expectations,
        process_unique_gate_batch,
    )

    store = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(r,) for r in rows], "k long"
    )
    process_unique_gate_batch(mk([1, 2]), 0, store, "k")
    process_unique_gate_batch(mk([2, 3]), 1, store, "k")
    compact_seen_keys(spark, store, 1)
    # rewrite the fold to the PRE-first_batch schema (key only)
    fold_dir = f"{store}/seen/compacted/floor=1"
    assert glob.glob(fold_dir)
    legacy = spark.read.parquet(fold_dir).select("key")
    legacy.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(
        fold_dir
    )
    assert spark.read.parquet(fold_dir).columns == ["key"]
    # per-batch read over the legacy fold: 1,3 dup; 4 new
    process_unique_gate_batch(mk([1, 3, 4]), 2, store, "k")
    r = merge_expectations(spark, store).collect()[0]
    assert r["total"] == 7 and r["violations"] == 3
    # and the NEXT compaction folds the legacy fold forward
    compact_seen_keys(spark, store, 2)
    assert glob.glob(f"{store}/seen/compacted/floor=2")
    process_unique_gate_batch(mk([4, 5]), 3, store, "k")
    r2 = merge_expectations(spark, store).collect()[0]
    assert r2["total"] == 9 and r2["violations"] == 4


def test_unique_gate_unreadable_seen_partial_fails_the_batch(
    spark, tmp_path
):
    """An unreadable seen-key partial must fail the micro-batch (the
    neardup signature store's contract), never read as "no key seen
    yet": that would land violations=0 for keys that repeat batch 0's
    and pass the gate with a wrong verdict."""
    import glob

    from blackroad_feature_store_spark.streaming.quality import (
        process_unique_gate_batch,
    )

    store = str(tmp_path / "gate")
    keys = spark.createDataFrame([("x",), ("y",)], "k string")
    process_unique_gate_batch(keys, 0, store, "k")
    files = glob.glob(f"{store}/seen/batches/batch_id=0/*.parquet")
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"this is not parquet")
    with pytest.raises(Exception):
        process_unique_gate_batch(keys, 1, store, "k")


def test_drain_and_stop_expected_rows_survives_progress_ring_buffer():
    """ADVICE r14 low pin: query.recentProgress is a ring buffer
    capped at spark.sql.streaming.numRecentProgressUpdates (default
    100) entries — a drain spanning more batches must accumulate
    numInputRows ACROSS poll snapshots keyed by batchId, or the
    expected_rows short-circuit silently undercounts and the drain
    falls back to the slow zero-input signal. Fake query: the first
    poll shows batches 0-99, later polls 50-149 (old entries
    evicted); only cross-snapshot accumulation reaches 150 rows."""
    import time as _time

    from blackroad_feature_store_spark.streaming.stateful import (
        drain_and_stop,
    )

    class _FakeQuery:
        def __init__(self):
            self.polls = 0
            self.stopped = False

        @property
        def recentProgress(self):
            self.polls += 1
            if self.polls == 1:
                return [
                    {"batchId": i, "numInputRows": 1} for i in range(100)
                ]
            return [
                {"batchId": i, "numInputRows": 1} for i in range(50, 150)
            ]

        @property
        def lastProgress(self):
            # never reports a zero-input batch: the fallback signal
            # stays dark, so only the expected_rows fast path can end
            # the drain before the timeout
            return {"batchId": 150, "numInputRows": 1}

        @property
        def isActive(self):
            return True

        def stop(self):
            self.stopped = True

        def awaitTermination(self, timeout=None):
            return True

    q = _FakeQuery()
    t0 = _time.time()
    drain_and_stop(q, timeout=10, expected_rows=150)
    elapsed = _time.time() - t0
    assert q.stopped
    # a snapshot-sum implementation never sees >100 rows and only
    # returns via the 10s timeout; the cumulative one needs 2 polls
    assert elapsed < 5, f"expected_rows short-circuit lost ({elapsed:.1f}s)"
    assert q.polls <= 5
