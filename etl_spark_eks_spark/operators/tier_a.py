"""Tier A — the reference job's literal operator surface (SURVEY §2.A).

The reference's entire data path is: parquet scan -> add a plan-time
constant timestamp column -> printSchema -> show(20) -> count ->
repartition(2) -> overwrite parquet (reference:
workflow-examples/pyspark-taxi-trip.py:37-51), plus the Glue table's
8-column contract projection (reference: addons.tf:324-363).

Differences from the reference, on purpose:
- ``lit(datetime.now())`` becomes a *fixed* literal (deterministic,
  oracle-checkable); the reference's value is itself a plan-time constant,
  so semantics are identical modulo the clock (SURVEY §1.3).
- ``show(20)`` becomes a sort-keyed limit — an unsorted limit is
  nondeterministic across partitions and cannot be verified.
- The reference re-derives the scan for each action (no cache); our
  queries are single-action plans, which is the 100 TB-correct shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.functions.exact import dsum
from etl_spark_eks_spark.registry import query
from etl_spark_eks_spark.sources.parquet_io import land_parquet

# The reference stamps datetime.now() once per batch (pyspark-taxi-trip.py:40).
# Fixed here so Spark and the DuckDB oracle see the same constant.
INGEST_TS = "2024-06-01 00:00:00"


@query("q_a1_scan", oracle="SELECT * FROM lineitem")
def q_a1_scan(spark, sf_dir):
    """A1: multi-file parquet directory scan, schema from footers."""
    return load_table(spark, sf_dir, "lineitem")


@query(
    "q_a2_add_ingest_ts",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           TIMESTAMP '{INGEST_TS}' AS ingest_ts
    FROM lineitem
    """,
)
def q_a2_add_ingest_ts(spark, sf_dir):
    """A2: projection-extend with a plan-time constant batch watermark."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.lit(INGEST_TS).cast("timestamp").alias("ingest_ts"),
    )


@query(
    "q_a4_limit20",
    oracle="""
    SELECT * FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 20
    """,
)
def q_a4_limit20(spark, sf_dir):
    """A4: the reference's show(20) preview, made deterministic via sort key.

    Physical plan is TakeOrderedAndProject — no global sort materialized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.orderBy("l_orderkey", "l_linenumber").limit(20)


@query("q_a5_count", oracle="SELECT count(*) AS cnt FROM lineitem")
def q_a5_count(spark, sf_dir):
    """A5: global count — partial count per partition + single final agg."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


@query("q_a6_repartition_roundtrip", oracle="SELECT * FROM lineitem")
def q_a6_repartition_roundtrip(spark, sf_dir):
    """A6: round-robin repartition(2) — content identity, layout change only."""
    return load_table(spark, sf_dir, "lineitem").repartition(2)


@query("q_a7_write_roundtrip", oracle="SELECT * FROM lineitem")
def q_a7_write_roundtrip(spark, sf_dir):
    """A7: overwrite parquet sink + read-back (the reference's sink,
    pyspark-taxi-trip.py:51, with committer semantics left to Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return land_parquet(li.repartition(2), "q_a7", sf_dir, "lineitem")


@query(
    "q_a8_catalog_projection",
    oracle=f"""
    SELECT l_shipdate AS event_ts,
           CAST(l_quantity AS DOUBLE) AS quantity,
           l_extendedprice AS extended_price,
           l_discount AS discount,
           l_tax AS tax,
           l_extendedprice * (1 - l_discount) AS net_price,
           TIMESTAMP '{INGEST_TS}' AS ingest_ts
    FROM lineitem
    """,
)
def q_a8_catalog_projection(spark, sf_dir):
    """A8: the Glue-table contract — expose a fixed named/cast column subset
    of the landed files (reference: addons.tf:324-363 exposes 8 of ~19)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_shipdate").alias("event_ts"),
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").alias("extended_price"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.lit(INGEST_TS).cast("timestamp").alias("ingest_ts"),
    )


@query(
    "q_b117_cached_multi_action",
    oracle="""
    WITH base AS (
        SELECT l_returnflag, l_quantity, l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT 'n_rows' AS metric, l_returnflag AS key,
           CAST(COUNT(*) AS DOUBLE) AS value
    FROM base GROUP BY l_returnflag
    UNION ALL
    SELECT 'revenue' AS metric, l_returnflag AS key,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS value
    FROM base GROUP BY l_returnflag
    ORDER BY metric, key
    """,
)
def q_b117_cached_multi_action(spark, sf_dir):
    """B117: explicit cache for multi-consumer plans — the fix for the
    reference job's one real plan-level defect. The reference runs
    show(20), count(), and the write as three separate actions off the
    same logical tree, so the parquet scan executes THREE times
    (reference workflow-examples/pyspark-taxi-trip.py:43-51; SURVEY
    §3.3 calls this "the first thing the new engine fixes"). Here one
    filtered projection is `.cache()`d and two downstream aggregations
    (row counts and exact-decimal revenue per returnflag) read the
    materialized columnar block instead of re-scanning: the returned
    plan shows two InMemoryTableScans over ONE FileScan, pinned in
    tests/test_plans.py.

    The cache is deliberately NOT unpersisted inside this function —
    the driver materializes the returned DataFrame after we return, and
    an unpersisted plan would silently fall back to re-scanning (the
    bug this operator exists to demonstrate against). The entry is
    projected+filtered first (cache AFTER pruning, so the block stores
    4 columns of the matching rows, not the table).

    Scale: caching is a cost decision, not a default — a 100 TB scan
    cached at full width evicts everything else; the discipline shown
    is cache-the-reduced-intermediate (post-filter, post-projection,
    pre-fan-out), the same rule Spark's own docs give for iterative
    consumers. MEMORY_AND_DISK default spills gracefully; localCheckpoint
    (used by C18/C61's loops) is the lineage-truncating sibling."""
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.filter(F.col("l_shipdate") < "1998-09-02")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .cache()
    )
    n = base.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("value")
    ).select(F.lit("n_rows").alias("metric"),
             F.col("l_returnflag").alias("key"), "value")
    rev = base.groupBy("l_returnflag").agg(
        dsum((F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("value")
    ).select(F.lit("revenue").alias("metric"),
             F.col("l_returnflag").alias("key"), "value")
    return n.unionByName(rev).orderBy("metric", "key")
