"""Catalog: load the fixture star schema and register named views.

The reference's "catalog" is a Glue database + crawler + a fixed-schema
external table over an S3 parquet prefix (reference: addons.tf:285-365).
The crawler infers each table's schema once and every query reuses it.
Spark-native equivalent: each table's schema is resolved once per file
fingerprint (:func:`table_schema`), and every read is
``spark.read.schema(s).parquet(path)``, which starts no Spark job; temp
views give the DataFrame API and ``spark.sql`` the same names — the
same names DuckDB pre-registers for the oracle.

Scale note: at 100 TB these would be real catalog tables (partitioned,
possibly bucketed on join keys); the loader keeps a single entry point
so that swap is one function.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark_eks_spark.sources.parquet_io import fixture_fingerprint

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change the type Spark infers for a fixture column
# (the timestamp columns). Their values are part of the schema memo's
# key, so a session that sets one differently gets its own inference,
# never another session's types.
_TYPE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (path, file fingerprint, type confs) -> inferred schema. Only the
# StructType is kept, never a DataFrame: a shared DataFrame repeats its
# attribute ids across self-joins, which makes join columns ambiguous.
# Two callers racing on one key both infer the same schema; either
# write is correct.
_SCHEMAS: dict[tuple, T.StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The table's parquet schema, inferred from its footers on the first
    read and remembered per (path, file fingerprint, type-changing session
    confs). Inference is one Spark job; a remembered schema costs none.
    A table rewritten in place changes its fingerprint and is inferred
    again."""
    path = table_path(sf_dir, name)
    key = (
        path,
        fixture_fingerprint(sf_dir, name),
        tuple(spark.conf.get(k) for k in _TYPE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def scan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's raw parquet scan, columns as stored, read with the
    remembered schema (no inference job)."""
    return spark.read.schema(table_schema(spark, sf_dir, name)).parquet(
        table_path(sf_dir, name)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY §2 A1): schema from footers, resolved once per
    file fingerprint, multi-file capable.

    ``events.ts`` may be parquet TIMESTAMP(NANOS), which Spark 4 refuses
    to read natively; the engine conf reads it as int64 nanos
    (``nanosAsLong``) and we truncate to microseconds with integer DIV —
    bit-identical to DuckDB's own ns->µs truncation, so oracle
    comparisons stay exact. (Float division would lose precision: 2024
    epoch-nanos ≈ 1.7e18 > 2^53.)
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = scan_table(spark, sf_dir, name)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def widen(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's full parallelism.

    Compute-heavy per-row operators (MinHash signatures, SimHash,
    shingle fingerprints, pairwise similarity) inherit their parallelism
    from the scan. A 100 TB table scans as thousands of splits and needs
    nothing; the small single-file fixtures scan as ONE partition, which
    serializes interpreted higher-order expressions onto one core. This
    is the explicit small-input/wide-compute escape hatch — a cheap
    round-robin exchange of the (small) input, never of the pairwise
    output — and a literal no-op whenever the input already carries at
    least session parallelism (a 100 TB scan must NOT be re-shuffled
    just to run a per-row expression; the conditional is what makes
    this safe to leave in the operators at scale).
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def adaptive_width(df: DataFrame, per_part_bytes: int = 2 << 20) -> int:
    """Scale-adaptive partition floor for CODEGEN/Arrow-batched stages
    (round 12, guide §2: derive partitioning from input size, not a
    constant tuned for local mode). ``widen()``'s full-session fan-out
    is load-bearing for INTERPRETED per-row expressions (no codegen,
    no CSE — 32-way parallelism beats per-task overhead even on a
    5k-row fixture), but once a pipeline's per-row work is integer
    codegen or a numpy batch kernel, fixture-sized inputs pay ~10 ms
    of scheduling per task per stage for nothing (measured: 32-task
    stages of 0.3-0.6 s over KB-scale tables). The right width is the
    scan-size estimate divided by a chunk, floored at 4 (hostile
    local[3] sweeps still overlap) and capped at session parallelism.
    At real scale the estimate exceeds the cap and ``widen`` is a
    no-op anyway, so only tiny inputs narrow — pass the result as
    ``widen(df, adaptive_width(df))``."""
    sc = df.sparkSession.sparkContext
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return sc.defaultParallelism
    return max(4, min(sc.defaultParallelism, -(-size // per_part_bytes)))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view (SURVEY §2 B1).

    Mirrors the reference's crawler-populated Glue database: after this,
    ``spark.sql("SELECT ... FROM lineitem ...")`` works like Athena over
    the crawled table (reference: addons.tf:285-297). Like the crawler,
    this infers each table's schema once; later :func:`load_table` calls
    reuse it.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
