"""Batch source/sink helpers (parquet; JSON-in-string handled in
:mod:`etl_spark_eks_spark.functions.json_ops`)."""

from etl_spark_eks_spark.sources.parquet_io import (  # noqa: F401
    land_parquet,
    read_back,
    scratch_path,
    sf_tag,
)
