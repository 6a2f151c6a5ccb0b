"""Own-output landing: every query that writes parquet and reads it back
does so through ``parquet_io.land_parquet`` / ``read_back`` or
``stream_ops.run_available_now``, which read with the written schema.
These tests pin that the read-back starts no Spark job and that its
schema is exactly what an inferring ``spark.read.parquet`` of the same
directory returns (the inferring read survives only here, as the
reference)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from etl_spark_eks_spark import registry
from etl_spark_eks_spark.sources.parquet_io import (
    land_parquet,
    read_back,
    scratch_path,
    sf_tag,
)
from test_plans import _jobs_in_group

registry.load_all()

# Every query that reads back output it wrote itself.
LANDING_QUERIES = [
    "q_a7_write_roundtrip",
    "q_b3_partitioned_write",
    "q_b48_watermark_stream",
    "q_b49_stream_dedup",
    "q_b50_exactly_once_rerun",
    "q_b56_stateful_user_stats",
    "q_b57_stream_stream_join",
    "q_b66_stream_static_join",
    "q_b67_dynamic_partition_pruning",
    "q_b72_foreachbatch_upsert",
    "q_b74_stream_outer_join",
    "q_b98_stream_session_window",
    "q_b126_file_metadata",
    "q_b138_incremental_backlog",
    "q_b143_multiplexed_stream_union",
    "q_b144_dynamic_partition_overwrite",
    "q_b145_ignore_missing_files",
    "q_b146_output_file_sizing",
    "q_b173_compression_codec_audit",
    "q_b176_rebalance_hint",
    "q_c35_sorted_layout",
    "q_c74_zorder_layout",
]
if "q_b96_transform_with_state" in registry.QUERIES:
    LANDING_QUERIES.append("q_b96_transform_with_state")


def test_read_back_starts_no_job(spark, sf_dir):
    """A landed frame, partitioned or not, and a stream sink come back
    without a Spark job; an inferring read of the same dir starts one."""
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 3).alias("part"),
        F.lit("x").alias("s"),
    )
    land_parquet(df, "t_landing", sf_dir, partition_by=["part"])
    out = scratch_path("t_landing", sf_tag(sf_dir), "out")
    n = _jobs_in_group(
        spark,
        "read-back",
        lambda: read_back(spark, out, df.schema, ["part"]).schema,
    )
    assert n == 0, f"read_back started {n} Spark jobs"
    registry.QUERIES["q_b49_stream_dedup"](spark, sf_dir)
    sink = scratch_path("q_b49", sf_tag(sf_dir), "sink")
    schema = spark.read.parquet(sink).schema
    n_sink = _jobs_in_group(
        spark, "read-back-sink", lambda: read_back(spark, sink, schema).schema
    )
    assert n_sink == 0, f"stream sink read-back started {n_sink} Spark jobs"
    n_infer = _jobs_in_group(
        spark, "inferring-own-read", lambda: spark.read.parquet(out).schema
    )
    assert n_infer >= 1


@pytest.mark.parametrize("key", LANDING_QUERIES)
def test_read_back_schema_equals_inferred(spark, sf_dir, monkeypatch, key):
    """Every own-output parquet read a query makes carries the schema an
    inferring read of the same directory would give, field for field:
    names, order, types, nullability and metadata."""
    base = os.path.dirname(scratch_path("_"))
    reads: list[tuple[str, object]] = []
    orig = DataFrameReader.parquet

    def recording(self, *paths, **options):
        df = orig(self, *paths, **options)
        for p in paths:
            if str(p).startswith(base):
                reads.append((str(p), df))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    registry.QUERIES[key](spark, sf_dir)
    monkeypatch.setattr(DataFrameReader, "parquet", orig)
    own = [(p, df) for p, df in reads if os.path.isdir(p) and "stream_in" not in p]
    assert own, f"{key} read back no own output"
    for path, df in own:
        inferred = spark.read.parquet(path).schema
        assert df.schema.json() == inferred.json(), (key, path)
