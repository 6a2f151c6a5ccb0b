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
- ``target_files`` controls output file count exactly like the reference's
  ``repartition(2)``; at scale prefer AQE coalescing or a column-based
  ``repartition(cols)`` so files align with downstream join/agg keys.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_files: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    if target_files is not None:
        df = df.repartition(target_files)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


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
