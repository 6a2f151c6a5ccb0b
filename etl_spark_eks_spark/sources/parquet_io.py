"""Parquet source & sink.

Re-expresses the reference's only I/O path — multi-file parquet scan in,
overwrite parquet out with an explicit output-file-count repartition
(reference: workflow-examples/pyspark-taxi-trip.py:37,51) — as reusable
helpers.

Scale notes (100 TB):
- Reads rely on Spark's vectorized parquet reader; predicate pushdown and
  column pruning reach the scan automatically when callers keep plans
  declarative (asserted in tests/test_plans.py).
- ``partition_by`` gives directory partitioning so downstream reads prune
  whole partitions (static + dynamic partition pruning).
- The caller sets the output file count on the frame, like the
  reference's ``repartition(2)``; at scale prefer AQE coalescing or a
  column-based ``repartition(cols)`` so files align with downstream
  join/agg keys.
- A query's own output lands in one place (:func:`land_parquet`, and
  ``streaming.stream_ops.run_available_now`` for streams) and is read
  back with the schema it was written with (:func:`read_back`), never
  re-inferred from the files.
"""

from __future__ import annotations

import os
import tempfile
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def sf_tag(sf_dir: str) -> str:
    """A fixture dir as one path part and identifier suffix:
    ``/data/sf0.01`` -> ``data_sf0_01``."""
    return sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")


def scratch_path(*parts: str) -> str:
    """Deterministic scratch dir for write-roundtrip queries/tests."""
    base = os.path.join(tempfile.gettempdir(), "etl_spark_eks_spark")
    path = os.path.join(base, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def fresh_scratch(*parts: str) -> str:
    """Scratch path wiped clean first (cold-start semantics)."""
    import shutil

    path = scratch_path(*parts)
    shutil.rmtree(path, ignore_errors=True)
    return path


def read_back(
    spark: SparkSession,
    path: str,
    schema: StructType,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Read parquet the engine itself wrote at ``path`` with the schema it
    was written with, as the reference's Glue table reads its sink with
    a declared schema. An inferring ``spark.read.parquet`` would start a
    Spark job to read the footers back. The partition columns are left
    out of the given schema, so Spark types them from the directory
    names exactly as an inferring read does, and puts them last."""
    data = StructType([f for f in schema.fields if f.name not in partition_by])
    return spark.read.schema(data).parquet(path)


def land_parquet(
    df: DataFrame,
    key: str,
    sf_dir: str,
    name: str = "out",
    partition_by: Sequence[str] = (),
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Write ``df`` into the fresh scratch dir for (key, fixture dir,
    name) and return it read back with its written schema
    (:func:`read_back`). The caller shapes the frame first (target file
    count, range layout, sort); ``partition_by`` gives directory
    partitioning and ``options`` are writer options such as
    ``maxRecordsPerFile``."""
    path = fresh_scratch(key, sf_tag(sf_dir), name)
    writer = df.write.options(**(options or {}))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return read_back(df.sparkSession, path, df.schema, partition_by)


def fixture_fingerprint(sf_dir: str, table: str) -> str:
    """Content key for staged-landing sentinels: name+size+mtime of every
    file under the source parquet table. If the fixture is regenerated in
    place, the fingerprint changes and the landing copy is re-staged —
    a tag-only sentinel would silently keep comparing a stale staged copy
    against a live oracle read of the regenerated fixture."""
    import hashlib

    root = os.path.join(sf_dir, f"{table}.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fn in sorted(files):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(root):
        st = os.stat(root)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()


def is_staged(landing: str, fingerprint: str) -> bool:
    """True iff the landing dir's _STAGED sentinel matches ``fingerprint``."""
    done = os.path.join(landing, "_STAGED")
    if not os.path.exists(done):
        return False
    with open(done) as fh:
        return fh.read().strip() == fingerprint


def mark_staged(landing: str, fingerprint: str) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, "_STAGED"), "w") as fh:
        fh.write(fingerprint)
