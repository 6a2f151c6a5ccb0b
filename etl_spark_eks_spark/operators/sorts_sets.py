"""Sorts, limits, top-k, and set operations (SURVEY §2 B32-B36).

Scale notes: global top-k uses Spark's TakeOrderedAndProject (per-
partition heaps + driver merge of k rows — never a full global sort);
set ops are expressed so partial aggregation happens before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.registry import query


@query(
    "q_b32_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderstatus DESC, o_orderpriority ASC NULLS FIRST,
             o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_b32_sort_multi(spark, sf_dir):
    """B32: multi-column sort, mixed direction, explicit nulls ordering.
    LIMIT makes the selected row set order-dependent (so the oracle
    verifies the ordering, not just content)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.col("o_orderstatus").desc(),
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    )


@query(
    "q_b33_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_b33_topk(spark, sf_dir):
    """B33: global top-k — TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "q_b34_union",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_b34_union(spark, sf_dir):
    """B34: UNION (distinct) of two key sets via unionByName + distinct
    (map-side partial dedup before the shuffle)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(F.col("c_custkey").alias("custkey"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.unionByName(o).distinct()


@query(
    "q_b35_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_b35_intersect(spark, sf_dir):
    """B35: INTERSECT (distinct semantics) — customers with both an 'F'
    and an 'O' order."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersect(op)


@query(
    "q_b36_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def q_b36_except(spark, sf_dir):
    """B36: EXCEPT (distinct) — customers with no six-figure order."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o)


@query(
    "q_b90_multiset_ops",
    oracle="""
    WITH y96 AS (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
    ), y97 AS (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
    ), both_ms AS (
      SELECT o_custkey FROM y96 INTERSECT ALL SELECT o_custkey FROM y97
    ), only96_ms AS (
      SELECT o_custkey FROM y96 EXCEPT ALL SELECT o_custkey FROM y97
    )
    SELECT 'both' AS op, o_custkey AS custkey, COUNT(*) AS multiplicity
    FROM both_ms GROUP BY o_custkey
    UNION ALL
    SELECT 'only_1996', o_custkey, COUNT(*) FROM only96_ms GROUP BY o_custkey
    """,
)
def q_b90_multiset_ops(spark, sf_dir):
    """B90: multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL,
    the duplicate-preserving semantics B35/B36's distinct forms erase.
    Per customer key k with m orders in 1996 and n in 1997, INTERSECT
    ALL keeps min(m, n) copies and EXCEPT ALL keeps max(m - n, 0) —
    so the aggregated multiplicity column is exactly the information
    the distinct forms cannot produce (how MANY repeat orders
    carried over year to year, not whether any did). Emitted as one
    result with an op discriminator, multiplicities counted, so the
    bag semantics are hash-checked value-for-value.

    Scale: Spark plans both as a single hash aggregate per side
    computing per-key counts, then a merge — one shuffle per input on
    the key, partial-aggregated map-side; never a sort or a pairwise
    match. The post-op GROUP BY rides the same partitioning (zero
    added exchanges, AQE-reused)."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    both_ms = (
        y96.intersectAll(y97)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("multiplicity"))
        .select(
            F.lit("both").alias("op"),
            F.col("o_custkey").alias("custkey"),
            "multiplicity",
        )
    )
    only96 = (
        y96.exceptAll(y97)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("multiplicity"))
        .select(
            F.lit("only_1996").alias("op"),
            F.col("o_custkey").alias("custkey"),
            "multiplicity",
        )
    )
    return both_ms.unionByName(only96)


@query(
    "q_b114_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 30
    """,
)
def q_b114_offset_pagination(spark, sf_dir):
    """B114: keyset-free pagination — `ORDER BY ... LIMIT k OFFSET n`
    (Spark 3.4+ SQL / `df.offset`), page 3 of the order book by price.
    The API/report surface every SQL gateway exposes; deterministic
    only because the sort key is TOTAL (price then key) — an
    under-specified ORDER BY makes OFFSET return different pages
    run-to-run, the classic pagination bug.

    Scale: Spark plans global-sort + offset+limit collection; the
    executors keep (n+k)-sized heads, the driver materializes n+k rows
    and drops n — fine for report pages, and exactly why DEEP
    pagination (n in the millions) should switch to keyset pagination
    (WHERE sort_key > last_seen, B33's top-k shape) instead; the
    docstring is the contract note."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(30)
        .limit(15)
    )


@query(
    "q_b120_distribute_sort_by",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    """,
)
def q_b120_distribute_sort_by(spark, sf_dir):
    """B120: `DISTRIBUTE BY` / `SORT BY` / `CLUSTER BY` — the
    Hive-compat SQL surface for PHYSICAL layout without a global
    order: DISTRIBUTE BY hashes rows to partitions, SORT BY orders
    within each partition only, CLUSTER BY is the contraction of both
    on one key. This is how SQL users spell "co-locate and locally
    order, but don't pay TakeOrdered/global-sort" — the exact shape a
    partitioned writer or a grouped reader wants (C35's
    repartitionByRange+sortWithinPartitions is the range-keyed
    sibling; this is the hash-keyed one).

    CONTENT is unchanged by layout — the oracle is the identity
    SELECT, and the driver's order-insensitive hash is precisely the
    right comparator: the operator promises a partitioning+local
    order, never a row sequence. The plan property (one
    hashpartitioning exchange, sort with global=false, NO global sort
    anywhere) is pinned in tests/test_plans.py.

    Scale: one hash exchange + spillable local sorts — strictly
    cheaper than ORDER BY (no range sampling, no single merge
    ordering); the 100 TB write-path default."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "b120_lineitem"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM b120_lineitem
        DISTRIBUTE BY l_returnflag
        SORT BY l_returnflag, l_orderkey, l_linenumber
        """
    )


@query(
    "q_b155_order_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def q_b155_order_by_all(spark, sf_dir):
    """B155: ORDER BY ALL — the companion of B123's GROUP BY ALL and
    the last piece of the DuckDB-dialect ergonomic pair a warehouse
    migration types on day one: sort by every select-list column,
    left to right, without restating them (and without the
    positional-ORDER-BY-1,2 fragility when the list is edited). The
    oracle runs the LITERAL same text — both engines implement the
    same dialect extension, so presence-with-identical-semantics is
    the compatibility claim, exactly B150's discipline.

    Scale: sugar, not a plan change — Catalyst expands ALL to the
    select list at analysis, the sort is the same range-partitioned
    TakeOrdered/Sort any explicit ORDER BY plans. The k-row aggregate
    here sorts 4 rows; the operator exists for the TEXT surface."""
    from etl_spark_eks_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "q_b157_tablesample_repeatable",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS samples_identical,
           TRUE AS sample_frac_ok
    FROM orders
    """,
)
def q_b157_tablesample_repeatable(spark, sf_dir):
    """B157: TABLESAMPLE ... REPEATABLE — the SQL-text sampling surface
    (ad-hoc exploration, query-time downsampling) with a pinned seed.
    Contract demonstrated: (1) BERNOULLI percent sampling happens AT
    THE SCAN (the sample pushes into the file source — rows never
    reach the query above it), (2) REPEATABLE(seed) makes the draw
    deterministic for a fixed file layout — rerunning the same query
    on the same table yields the SAME rows, which is what makes a
    sampled debugging session reproducible.

    Oracle adjudication (round 11, was rows-only): sample MEMBERSHIP is
    per-split XORShiftRandom under Spark's seeding — engine- and
    layout-specific by construction, so no cross-engine row oracle can
    exist (the one genuinely impossible case among the round-10
    rows-only cohort). The official query therefore VERIFIES the
    operator's contract in-engine and ships the verdicts: it draws the
    sample twice, checks the draws are identical (REPEATABLE), checks
    the sampled fraction sits within ±12 sigma of the 10% Bernoulli
    mass, and returns (n_total, samples_identical, sample_frac_ok) —
    all three deterministic for any correct engine, so the DuckDB
    oracle is exact, and a repeatability or mass regression flips a
    boolean and fails the hash.

    The engine's own corpus-sampling ladder deliberately does NOT use
    this: C22/C36's hash-rank sampling is content-keyed, so membership
    survives repartitioning, appends, and engine changes — TABLESAMPLE
    is split-keyed (per-partition seed), so its membership is only
    stable while the physical layout is. That distinction is the
    operator's documentation payload: TABLESAMPLE for interactive
    speed, hash-rank for anything a pipeline depends on.

    Scale: sampling at the scan means a 1% TABLESAMPLE of 100 TB reads
    all bytes but materializes 1% of rows into the query — the win is
    downstream, not in IO (row-group skipping needs a filter, not a
    sample); the contract checks here are two sampled scans plus an
    exceptAll anti-diff, all sample-sized."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "b157_orders"
    )
    sample_sql = """
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM b157_orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        """
    s1, s2 = spark.sql(sample_sql), spark.sql(sample_sql)
    n_total = spark.table("b157_orders").count()
    n_sample = s1.count()
    identical = (
        s1.exceptAll(s2).unionAll(s2.exceptAll(s1)).count() == 0
        and n_sample == s2.count()
    )
    frac_ok = 0.07 <= n_sample / max(n_total, 1) <= 0.13
    return values_df(
        spark,
        [(n_total, identical, frac_ok)],
        StructType.fromDDL(
            "n_total long, samples_identical boolean, sample_frac_ok boolean"
        ),
    )
