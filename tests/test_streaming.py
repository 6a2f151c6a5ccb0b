"""Streaming invariants (SURVEY §5.2 #4): stream results vs the batch
computation on the same input."""

from __future__ import annotations

from etl_spark_eks_spark import registry

registry.load_all()


def test_watermark_stream_subset_of_batch(spark, sf_dir):
    """B48 append-mode result must be a subset of the batch tumbling agg
    (open windows withheld at end of input), and every emitted window
    must match the batch value exactly."""
    stream = registry.QUERIES["q_b48_watermark_stream"](spark, sf_dir).collect()
    batch = {
        r["win_start"]: (r["n_events"], r["total_value"])
        for r in registry.QUERIES["q_b45_tumbling"](spark, sf_dir).collect()
    }
    assert 0 < len(stream) <= len(batch)
    for r in stream:
        assert batch[r["win_start"]] == (r["n_events"], r["total_value"])


def test_stream_dedup_restores_cardinality(spark, sf_dir):
    """B49: doubling every event then deduping within the watermark must
    restore the original event_id cardinality exactly."""
    deduped = registry.QUERIES["q_b49_stream_dedup"](spark, sf_dir)
    from etl_spark_eks_spark.catalog import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    assert deduped.count() == n_events
    assert deduped.select("event_id").distinct().count() == n_events


def test_exactly_once_rerun_stable(spark, sf_dir):
    """B50: a third run over the same checkpoint must also add nothing."""
    first = registry.QUERIES["q_b50_exactly_once_rerun"](spark, sf_dir).count()
    again = registry.QUERIES["q_b50_exactly_once_rerun"](spark, sf_dir).count()
    assert first == again


def test_event_time_normalized_for_every_fixture_encoding(spark, tmp_path):
    """The stream source must yield ts: TIMESTAMP no matter how the
    fixture encodes it on disk — the upstream generator has already
    switched encodings twice (timestamp[ns] in round 1, timestamp[us]
    NTZ in round 2, which silently broke every withWatermark query).
    Covers: µs-NTZ, ns (legacy int64 read), and tz-adjusted µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from etl_spark_eks_spark.streaming.stream_ops import events_stream

    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["view", "purchase"], pa.string()),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k":1}', '{"k":2}'], pa.string()),
    }
    ts_us = [1704067200_000_000, 1704070800_000_000]  # 2024-01-01 wall clock
    encodings = {
        "ntz_us": pa.array(ts_us, pa.timestamp("us")),
        "nanos": pa.array([t * 1000 for t in ts_us], pa.timestamp("ns")),
        "utc_us": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    }
    for name, ts_arr in encodings.items():
        sf = tmp_path / name
        sf.mkdir()
        pq.write_table(
            pa.table({**base, "ts": ts_arr}), str(sf / "events.parquet")
        )
        stream = events_stream(spark, str(sf))
        assert stream.schema["ts"].dataType == TimestampType(), (
            f"encoding {name}: got {stream.schema['ts'].dataType}"
        )
        # And the values survive the normalization (wall clock under UTC).
        batch = spark.read.parquet(str(sf / "events.parquet"))
        from etl_spark_eks_spark.streaming.stream_ops import (
            normalize_event_time,
        )

        vals = [
            r["ts"]
            for r in normalize_event_time(batch).orderBy("event_id").collect()
        ]
        assert [v.replace(tzinfo=None) for v in vals] == [
            __import__("datetime").datetime(2024, 1, 1, 0, 0),
            __import__("datetime").datetime(2024, 1, 1, 1, 0),
        ]


def test_stream_outer_join_containment(spark, sf_dir):
    """B74: matched rows must equal the batch inner join exactly;
    NULL-purchase rows must be views the batch join also leaves
    unmatched (subset — views still inside the watermark horizon at
    end-of-stream are withheld)."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import load_table

    rows = registry.QUERIES["q_b74_stream_outer_join"](spark, sf_dir)
    matched = {
        (r["view_id"], r["purchase_id"])
        for r in rows.filter(F.col("purchase_id").isNotNull()).collect()
    }
    null_views = {
        r["view_id"]
        for r in rows.filter(F.col("purchase_id").isNull()).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    batch_matched = {
        (r["view_id"], r["purchase_id"])
        for r in v.join(p, cond, "inner").collect()
    }
    batch_unmatched = {
        r["view_id"] for r in v.join(p, cond, "left_anti").collect()
    }
    assert matched == batch_matched
    assert null_views, "watermark advance should emit some NULL rows"
    assert null_views <= batch_unmatched
    # no view may appear both matched and as a NULL row
    assert null_views.isdisjoint({vid for vid, _ in matched})


def test_foreachbatch_upsert_replay_is_noop(spark, sf_dir):
    """B72: restarting the upsert stream over the SAME checkpoint after
    it has drained must commit nothing new — the checkpoint records the
    processed batches, and the idempotent merge means even a re-driven
    batch would change nothing. The keyed table must be byte-stable
    across the restart."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.sources.parquet_io import fresh_scratch
    from etl_spark_eks_spark.streaming.stream_ops import (
        events_stream_batched,
    )

    state = fresh_scratch("t_b72_replay", "state")
    ckpt = fresh_scratch("t_b72_replay", "ckpt")
    os.makedirs(state, exist_ok=True)
    cur = os.path.join(state, "cur")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def upsert(batch_df, batch_id):
        import shutil

        sp = batch_df.sparkSession
        merged = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.exists(cur):
            merged = (
                sp.read.parquet(cur)
                .unionByName(merged)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        tmp = os.path.join(state, f"tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        old = os.path.join(state, f"old_{batch_id}")
        if os.path.exists(cur):
            os.rename(cur, old)
        os.rename(tmp, cur)
        shutil.rmtree(old, ignore_errors=True)

    def run_once():
        q = (
            events_stream_batched(spark, sf_dir)
            .select("user_id", "event_id", "ts", "value")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(
        (r["user_id"], r["event_id"]) for r in spark.read.parquet(cur).collect()
    )
    mtime = os.path.getmtime(cur)
    run_once()  # replay: checkpoint says everything is committed
    again = sorted(
        (r["user_id"], r["event_id"]) for r in spark.read.parquet(cur).collect()
    )
    assert first == again
    assert os.path.getmtime(cur) == mtime, "replay rewrote the table"


def test_stream_session_window_subset_of_batch(spark, sf_dir):
    """B98: every watermark-sealed streaming session must match the
    batch B47 session for the same (user, start) exactly — same end,
    same count, same (4dp) value — and the streamed set is a nonempty
    subset of batch (open sessions withheld at end of input)."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import load_table

    stream = registry.QUERIES["q_b98_stream_session_window"](
        spark, sf_dir
    ).collect()
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["total_value"]
        )
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .collect()
    }
    assert 0 < len(stream) <= len(batch)
    for r in stream:
        key = (r["user_id"], r["session_start"])
        assert batch[key] == (
            r["session_end"], r["n_events"], r["total_value"]
        ), key


def test_b96_tws_probe_and_registration(spark, sf_dir):
    """B96 automated availability probe (VERDICT r4 item 6): q_b96
    self-registers iff google.protobuf is importable (the TWS control
    channel's hard dependency). When absent, the documented skip holds
    and B56 covers the semantics; when the container gains protobuf,
    this test upgrades from probe-note to a full oracle check against
    the batch aggregate with no code change."""
    from etl_spark_eks_spark.operators.stream_queries import tws_available

    if not tws_available():
        assert "q_b96_transform_with_state" not in registry.QUERIES, (
            "q_b96 must not register without google.protobuf"
        )
        return  # probe note: TWS unavailable in this container; B56 covers
    # protobuf present: q_b96 must be registered and match the batch agg
    assert "q_b96_transform_with_state" in registry.QUERIES
    from pyspark.sql import functions as F

    got = registry.QUERIES["q_b96_transform_with_state"](spark, sf_dir)
    want = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_update_mode_emissions_are_monotone_changelog(spark, sf_dir):
    """B110: update mode must emit a CHANGELOG — per key, between 1 and
    n_batches rows (only batches that touched the key emit), with
    n_events strictly increasing across emissions; the final emission
    equals the batch aggregate exactly."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.session import scoped
    from etl_spark_eks_spark.streaming.stream_ops import (
        events_stream_batched,
    )

    sess = scoped(spark, {"spark.sql.shuffle.partitions": "4"})

    agg = (
        events_stream_batched(sess, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tb110_changelog")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sess.table("tb110_changelog").collect()
    by_key: dict[str, list[int]] = {}
    for r in rows:
        by_key.setdefault(r["event_type"], []).append(r["n_events"])
    batch = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(by_key) == set(batch)
    for k, emissions in by_key.items():
        assert 1 <= len(emissions) <= 4, (k, emissions)
        assert emissions == sorted(emissions) and len(set(emissions)) == len(
            emissions
        ), f"{k}: emissions not strictly increasing: {emissions}"
        assert max(emissions) == batch[k]


def test_incremental_backlog_run2_processes_only_delta(spark, sf_dir):
    """B138: the checkpointed file log must make run 2 ingest EXACTLY
    the second-wave files — per-run sink row counts equal the staged
    wave row counts, and no event_id appears under both run tags
    (reprocessing would surface as run-1 ids recurring under run 2)."""
    import glob
    import os

    from etl_spark_eks_spark.sources.parquet_io import scratch_path, sf_tag

    registry.QUERIES["q_b138_incremental_backlog"](spark, sf_dir)
    tag = sf_tag(sf_dir)
    stage = scratch_path("q_b138", tag, "stage")
    sink = scratch_path("q_b138", tag, "sink")
    files = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
    assert len(files) == 4
    wave2_rows = spark.read.parquet(*files[2:]).count()
    out = spark.read.parquet(sink)
    by_run = {
        r["ingest_run"]: r["n"]
        for r in out.groupBy("ingest_run").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert set(by_run) == {1, 2}
    assert by_run[2] == wave2_rows, (by_run, wave2_rows)
    total = spark.read.parquet(*files).count()
    assert by_run[1] + by_run[2] == total
    dup_ids = (
        out.groupBy("event_id")
        .agg({"ingest_run": "count"})
        .filter("count(ingest_run) > 1")
        .count()
    )
    assert dup_ids == 0, f"{dup_ids} event_ids ingested by both runs"


def test_no_data_batch_optout_is_output_identical(spark, sf_dir, monkeypatch):
    """The r8 no-data-batch opt-out contract, encoded: a query that
    scoped NO_DATA_BATCH_OFF (emissions all batch-driven) must
    produce IDENTICAL output when the trailing watermark-advance batch
    is forced back on. Representative: q_b49 (dedup passthrough) and
    q_b57 (inner stream-stream join — the outer variant q_b74 must NOT
    opt out and is deliberately absent here)."""
    from etl_spark_eks_spark.operators import stream_queries
    from etl_spark_eks_spark.streaming.stream_ops import run_available_now

    def forced_on(df, key, sf_dir, **kw):
        # df is built on the query's scoped session, not on `spark`
        df.sparkSession.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        )
        return run_available_now(df, key, sf_dir, **kw)

    for key in ("q_b49_stream_dedup", "q_b57_stream_stream_join"):
        fn = registry.QUERIES[key]
        skipped = sorted(
            tuple(r) for r in fn(spark, sf_dir).collect()
        )
        monkeypatch.setattr(stream_queries, "run_available_now", forced_on)
        try:
            forced = sorted(
                tuple(r) for r in fn(spark, sf_dir).collect()
            )
        finally:
            monkeypatch.setattr(
                stream_queries, "run_available_now", run_available_now
            )
        assert skipped == forced, key
