"""Joins (SURVEY §2 B8-B16), including a reusable as-of join.

Scale design baked into each query:
- dims (region/nation/customer/supplier/part) broadcast — no shuffle of
  the fact side for dim joins; only fact⋈fact (lineitem⋈orders) shuffles,
  on the join key, where AQE handles skew.
- the as-of join shuffles BOTH sides once on the entity key and resolves
  "latest ≤ t" with a window — no pairwise explosion beyond the key group.
- the theta join pre-aggregates before emitting (never materializes the
  raw cross-within-nation product to the client).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.functions.exact import dsum
from etl_spark_eks_spark.registry import query
from etl_spark_eks_spark.session import scoped


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_cols: list[str],
    tie_break: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the right row with the greatest
    ``right_ts`` <= ``left_ts`` within the same ``on`` key (left outer).
    ``left_id`` must uniquely identify left rows.

    Spark has no native ASOF JOIN; the idiomatic scale path is one
    co-partitioning of both sides on the key + a row_number window over
    time-ordered candidates within each left row's match group — no
    pairwise blow-up beyond the key group, no driver-side loop
    (SURVEY §2 B15). DuckDB's native ASOF JOIN is the oracle.
    """
    r = right.select(
        F.col(on).alias("__r_on"),
        F.col(right_ts).alias("__r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
    )
    cond = (F.col(on) == F.col("__r_on")) & (F.col("__r_ts") <= F.col(left_ts))
    joined = left.join(r, cond, "left")
    order = [F.col("__r_ts").desc_nulls_last()]
    if tie_break:
        order.append(F.col(f"r_{tie_break}").desc_nulls_last())
    w = Window.partitionBy(left_id).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__r_on", "__r_ts")
    )


@query(
    "q_b8_join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q_b8_join_inner(spark, sf_dir):
    """B8: FK inner equi-join; customer is a broadcastable dim."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "q_b9_join_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey, COUNT(*) AS n_customers
                FROM customer GROUP BY c_nationkey),
         sc AS (SELECT s_nationkey, COUNT(*) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cc.c_nationkey, sc.s_nationkey) AS nationkey,
           cc.n_customers, sc.n_suppliers
    FROM cc FULL OUTER JOIN sc ON cc.c_nationkey = sc.s_nationkey
    """,
)
def q_b9_join_outer(spark, sf_dir):
    """B9: full outer join with nulls possible on both sides (nations that
    have customers but no suppliers and vice versa)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


@query(
    "q_b10_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def q_b10_join_semi(spark, sf_dir):
    """B10: left semi — emit left rows with >=1 match, no right columns,
    no row multiplication (the EXISTS shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_b11_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_b11_join_anti(spark, sf_dir):
    """B11: left anti — customers with no orders (NOT EXISTS shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_b12_join_broadcast",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_b12_join_broadcast(spark, sf_dir):
    """B12: explicit broadcast-hint joins — zero shuffle of the fact side;
    tests assert BroadcastHashJoin in the physical plan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
    )


@query(
    "q_b13_join_theta",
    oracle="""
    SELECT s.s_nationkey AS nationkey, COUNT(*) AS n_pairs,
           CAST(SUM(CAST(s.s_acctbal - c.c_acctbal AS DECIMAL(38,6)))
                AS DOUBLE) AS bal_gap_sum
    FROM supplier s
    JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    GROUP BY s.s_nationkey
    """,
)
def q_b13_join_theta(spark, sf_dir):
    """B13: theta join — equi key (nation) + range predicate (acctbal).
    The equi component keeps it a hash join with a residual filter, not a
    cartesian product; output is pre-aggregated."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal)
    return (
        s.join(c, cond)
        .groupBy(s.s_nationkey.alias("nationkey"))
        .agg(
            F.count("*").alias("n_pairs"),
            dsum(s.s_acctbal - c.c_acctbal).alias("bal_gap_sum"),
        )
    )


@query(
    "q_b14_join_3way",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_b14_join_3way(spark, sf_dir):
    """B14: TPC-H Q3 — 3-way join with selective filters on every input,
    aggregate, global top-10 (TakeOrderedAndProject, no full sort)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30 00:00:00").cast("timestamp")
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q_b15_join_asof",
    oracle="""
    SELECT p.event_id, p.ts, p.user_id, c.ts AS r_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_b15_join_asof(spark, sf_dir):
    """B15: as-of join — for each purchase, the latest click by the same
    user at or before the purchase. Oracle is DuckDB's native ASOF JOIN
    (matches greatest right ts <= left ts; ties in r.ts collapse to the
    same output value because we emit the matched ts, not a row id)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        left_id="event_id",
        right_cols=["ts"],
    )


@query(
    "q_b16_cross_small",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_b16_cross_small(spark, sf_dir):
    """B16: bounded cross join of two tiny dims (5 x 25); anything larger
    must be an explicit opt-in — the engine never implies a cartesian."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


def bucketed_table(
    spark, df: DataFrame, name: str, key: str, buckets: int, path: str
) -> DataFrame:
    """Materialize ``df`` as a bucketed+sorted parquet table and return it.

    ``bucketBy(n, key).sortBy(key)`` records HashPartitioning(key, n) in
    the catalog, so every later join/agg on ``key`` reads the table
    already co-located: EnsureRequirements inserts NO Exchange and (with
    sortBy) no Sort. This is the production pattern for fact tables that
    are joined on the same key repeatedly — pay one shuffle at write
    time, amortize it over every subsequent query. Bucket metadata lives
    in the session catalog (not parquet footers), hence saveAsTable with
    an explicit path rather than a bare .parquet() write.
    """
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )
    return spark.table(name)


@query(
    "q_b60_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_b60_bucketed_join(spark, sf_dir):
    """B60: shuffle-free co-located fact-fact join via bucketed tables.

    Both fact sides are materialized once as 8-bucket tables hashed and
    sorted on their join key; the join plan then contains no Exchange on
    either side (asserted in tests/test_plans.py). At 100 TB this is the
    difference between re-shuffling the biggest table on every query and
    never shuffling it again. Only the columns the join needs are
    bucketed (column pruning at materialization time).
    """
    from etl_spark_eks_spark.sources.parquet_io import scratch_path, sf_tag

    tag = sf_tag(sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lib = bucketed_table(
        spark, li, f"li_bkt_{tag}", "l_orderkey", 8,
        scratch_path("q_b60", tag, "lineitem_bkt"),
    )
    ob = bucketed_table(
        spark, orders, f"ord_bkt_{tag}", "o_orderkey", 8,
        scratch_path("q_b60", tag, "orders_bkt"),
    )
    return (
        lib.join(ob, lib.l_orderkey == ob.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


def bucketized_range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (point BETWEEN lo AND hi) as an EQUI-join on coarse
    buckets — the scale path for interval predicates.

    Spark plans a bare range predicate as BroadcastNestedLoopJoin (fine
    while one side broadcasts) or, worse, a cartesian product — at
    100 TB with two large sides that is quadratic work. Bucketization
    makes it linear: every range row is exploded to the fixed-width
    buckets it overlaps (``sequence(floor(lo/w), floor(hi/w))``), every
    point row computes its single bucket, and the join becomes a plain
    hash equi-join on the bucket id with the exact BETWEEN re-checked as
    a post-filter. Each (point, range) match is produced exactly once —
    the point lives in exactly one bucket, and the range has exactly one
    copy in that bucket — so no dedup pass is needed.

    ``bucket_width`` trades explode fan-out (ranges spanning many
    buckets) against join selectivity (many ranges sharing a bucket);
    set it near the typical range width. This is the manual form of the
    bin-packed range-join optimization some engines apply automatically;
    stock Spark does not, so the engine provides it as an operator.
    """
    w = F.lit(float(bucket_width))
    r = ranges.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w)
            )
        ),
    )
    p = points.withColumn("__bucket", F.floor(F.col(point_col) / w))
    return (
        p.join(r, "__bucket")
        .filter(F.col(point_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("__bucket")
    )


@query(
    "q_b65_range_join_bucketed",
    oracle="""
    WITH bands AS (
      SELECT s_nationkey,
             MIN(s_acctbal) - 100 AS lo,
             MAX(s_acctbal) + 100 AS hi
      FROM supplier GROUP BY s_nationkey
    )
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           ROUND(AVG(c.c_acctbal), 6) AS avg_bal
    FROM bands b
    JOIN nation n ON b.s_nationkey = n.n_nationkey
    JOIN customer c ON c.c_acctbal BETWEEN b.lo AND b.hi
    GROUP BY n.n_name
    """,
)
def q_b65_range_join_bucketed(spark, sf_dir):
    """B65: interval/range join via bucketization — for each nation's
    supplier account-balance band [min, max], count the customers (of
    any nation) whose balance falls inside it. Bands overlap, so a
    customer can match many nations — a genuine many-to-many interval
    join, not an as-of. The equi-join runs on 1000-unit balance buckets;
    the exact BETWEEN is a post-filter (bucketized_range_join docstring
    has the scale argument). Bands are padded ±100 so they stay
    non-degenerate at the smallest fixture scale (1 supplier/nation =>
    a point range)."""
    sup = load_table(spark, sf_dir, "supplier")
    bands = sup.groupBy("s_nationkey").agg(
        (F.min("s_acctbal") - 100).alias("lo"),
        (F.max("s_acctbal") + 100).alias("hi"),
    )
    nat = load_table(spark, sf_dir, "nation")
    bands = bands.join(
        F.broadcast(nat), bands.s_nationkey == nat.n_nationkey
    ).select("n_name", "lo", "hi")
    cust = load_table(spark, sf_dir, "customer").select("c_acctbal")
    return (
        bucketized_range_join(cust, bands, "c_acctbal", "lo", "hi", 1000.0)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_src: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join with manual key salting — the hot-key treatment when
    the small side is too big to broadcast and AQE's skew split cannot
    help (it splits SORT-MERGE partitions after the fact; a
    pathologically hot key still hashes every row to one reducer
    first).

    The big side derives a DETERMINISTIC salt from a high-cardinality
    column it already carries (never ``rand()`` — task retries must
    re-derive the same salt or the join silently duplicates/drops
    rows); the small side is replicated once per salt value. The join
    key becomes (key, salt), spreading each hot key over ``n_salts``
    reducers. Cost: small side x n_salts — bounded, chosen, and paid
    on the SMALL side only.
    """
    b = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts))
    )
    s = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>")),
    )
    return (
        b.join(
            s,
            (F.col(big_key) == F.col(small_key))
            & (b["__salt"] == s["__salt"]),
        )
        .drop("__salt")
    )


@query(
    "q_b68_salted_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(AVG(e.value), 6) AS avg_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_b68_salted_skew_join(spark, sf_dir):
    """B68: skew-safe salted equi-join — events concentrate on ~150 hot
    user keys (every key is hot relative to reducer count), so a plain
    shuffle join puts entire users on single reducers. Salting spreads
    each user's events over 8 reducers via a deterministic salt from
    event_id and replicates the (narrow) customer side 8x. Result is
    oracle-identical to the plain join; the companion test asserts
    equality against the unsalted plan too. B63 is the same treatment
    for aggregation; this is the join-side counterpart, for when the
    small side exceeds the broadcast threshold (here it would
    broadcast — the salt path is exercised explicitly with the hint
    suppressed by the (key, salt) compound condition)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", "c_custkey", "event_id", 8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


@query(
    "q_b87_merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 17 = 3 THEN NULL
                  ELSE o_totalprice + 1000 END AS new_price,
             CASE WHEN o_orderkey % 17 = 3 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 17 = 3 OR o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 42.0, 'I'
      FROM orders WHERE o_orderkey % 1000 = 1
    )
    SELECT COALESCE(b.o_orderkey, c.k) AS o_orderkey,
           CASE WHEN c.k IS NULL THEN b.o_totalprice
                ELSE c.new_price END AS o_totalprice,
           CASE WHEN c.k IS NULL THEN 'kept'
                WHEN b.o_orderkey IS NOT NULL THEN 'updated'
                ELSE 'inserted' END AS action
    FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.k
    WHERE (b.o_orderkey IS NOT NULL AND (c.op IS NULL OR c.op <> 'D'))
       OR (b.o_orderkey IS NULL AND c.op = 'I')
    """,
)
def q_b87_merge_upsert(spark, sf_dir):
    """B87: batch MERGE semantics (SCD-1 upsert) — apply a change batch
    (updates, deletes, inserts in one table with an op column) to a
    base table in a single statement: matched U rows take the new
    value, matched D rows disappear, unmatched I rows append, and
    every surviving row carries its action for the audit trail. This
    is the compaction step every CDC/landing pipeline needs between
    B72's streaming foreachBatch upsert (micro-batch, keyed state)
    and a full lakehouse MERGE INTO.

    The change batch is derived deterministically from the base (mod
    slices) so the DuckDB oracle rebuilds it bit-for-bit; op
    precedence makes the slices disjoint (D wins over U, I keys are
    offset beyond the key range).

    Scale: ONE co-shuffle — a full-outer join on the key — touches the
    base exactly once; there is no separate anti-join probe for
    inserts (that second base-sized pass is the naive three-branch
    plan). At lakehouse scale the further upgrade is file-level
    pruning: inner-join the change keys against file min/max zone maps
    (C35's layout makes them tight) and rewrite only touched files —
    same semantics, base scan reduced to the touched fraction. The
    change side here is ~13% of base; when changes are broadcast-small
    the planner degrades the shuffle to a broadcast on the change side
    of the outer join's equivalent left+anti decomposition — kept as
    the single-statement form because semantics, not topology, are
    what the operator pins."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    upd_or_del = o.filter(
        (F.col("o_orderkey") % 17 == 3) | (F.col("o_orderkey") % 10 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 17 == 3, F.lit(None).cast("double")
        ).otherwise(F.col("o_totalprice") + 1000).alias("new_price"),
        F.when(F.col("o_orderkey") % 17 == 3, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    ins = o.filter(F.col("o_orderkey") % 1000 == 1).select(
        (F.col("o_orderkey") + 100000000).alias("k"),
        F.lit(42.0).alias("new_price"),
        F.lit("I").alias("op"),
    )
    changes = upd_or_del.unionByName(ins)
    return merge_upsert(o, changes, "o_orderkey", "o_totalprice")


def merge_upsert(
    base: DataFrame, changes: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """SCD-1 MERGE core (see q_b87 for the contract): ``changes`` has
    (k, new_price, op in U/D/I); ONE full-outer co-shuffle applies all
    three actions and tags survivors with their action. Full MERGE
    branch coverage: matched U/I -> 'updated' (I on an existing key is
    an upsert), matched D -> dropped, unmatched I -> 'inserted',
    unmatched U/D -> NO-OP, untouched base rows -> 'kept'. The
    hypothesis suite (tests/test_properties.py) caught the first
    version fabricating a row from an update against a non-existent
    key — the classic bug of decompositions that treat every surviving
    change row as an output row."""
    merged = base.join(changes, base[key_col] == changes["k"], "full_outer")
    matched = base[key_col].isNotNull()
    return merged.filter(
        (matched & (F.col("op").isNull() | (F.col("op") != "D")))
        | (~matched & (F.col("op") == "I"))
    ).select(
        F.coalesce(base[key_col], F.col("k")).alias(key_col),
        F.when(F.col("k").isNull(), base[value_col])
        .otherwise(F.col("new_price"))
        .alias(value_col),
        F.when(F.col("k").isNull(), F.lit("kept"))
        .when(matched, F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("action"),
    )


@query(
    "q_b104_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS prio,
             o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio,
             COUNT(*) AS n_side_b
      FROM orders WHERE o_orderkey % 2 = 1
      GROUP BY NULLIF(o_orderpriority, '3-MEDIUM')
    )
    SELECT a.prio, CAST(COUNT(*) AS BIGINT) AS n_orders,
           any_value(b.n_side_b) AS n_side_b
    FROM a JOIN b ON a.prio IS NOT DISTINCT FROM b.prio
    GROUP BY a.prio
    """,
)
def q_b104_null_safe_join(spark, sf_dir):
    """B104: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) —
    the join form where NULL keys MATCH each other instead of
    silently dropping. The real-world case is dimension keys with a
    meaningful 'unknown' bucket: a plain equi-join loses every
    unknown-keyed fact row (NULL = NULL is NULL), a null-safe join
    routes them to the unknown dimension row. The fixture has no NULL
    keys, so both sides NULLIF a priority value away
    (fabricate-then-audit) — the NULL<=>NULL group must appear in the
    result with its full count, which is exactly what the oracle's IS
    NOT DISTINCT FROM checks.

    Scale: `<=>` is still a hash-joinable equality predicate —
    Catalyst plans the same broadcast/shuffled hash join as `=`
    (NULLs hash to one bucket), NOT a theta-join fallback; the
    knowable hazard is that the NULL bucket is a skew key by
    construction when unknowns are common — the B68 salting rung
    applies unchanged."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio"),
        "o_totalprice",
    )
    b = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias(
                "prio"
            )
        )
        .groupBy("prio")
        .agg(F.count("*").alias("n_side_b"))
    )
    return (
        a.join(F.broadcast(b), a.prio.eqNullSafe(b.prio))
        .groupBy(a.prio)
        .agg(
            F.count("*").alias("n_orders"),
            F.any_value("n_side_b").alias("n_side_b"),
        )
    )


@query(
    "q_b109_interval_overlap_join",
    oracle="""
    WITH su AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             MIN(ts) AS s_start,
             MAX(ts) + INTERVAL '30 minutes' AS s_end
      FROM (SELECT user_id, ts,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM su)
      GROUP BY user_id, sid
    ), bu AS (
      SELECT event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), burst AS (
      SELECT event_type,
             MIN(ts) AS b_start,
             MAX(ts) + INTERVAL '5 minutes' AS b_end
      FROM (SELECT event_type, ts,
                   SUM(brk) OVER (PARTITION BY event_type ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS bid
            FROM bu)
      GROUP BY event_type, bid
    )
    SELECT s.user_id, b.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bursts,
           CAST(SUM(epoch_us(LEAST(s.s_end, b.b_end))
                    - epoch_us(GREATEST(s.s_start, b.b_start)))
                AS BIGINT) AS overlap_micros
    FROM sess s JOIN burst b
      ON s.s_start < b.b_end AND b.b_start < s.s_end
    GROUP BY s.user_id, b.event_type
    """,
)
def q_b109_interval_overlap_join(spark, sf_dir):
    """B109: interval-interval OVERLAP join — per-user activity
    sessions (30-min gap islands) joined to per-type event bursts
    (5-min gap islands) wherever the two time intervals intersect,
    aggregated to (user, type) overlap exposure. The interval join is
    the op Spark lacks natively (B15 as-of = point-to-latest-point,
    B65 = point-in-interval; this is interval-to-interval), and the
    naive formulation is a theta-join — a broadcast nested loop that
    compares every session to every burst.

    Implementation is the GRID-BUCKET decomposition: each interval
    explodes to the hourly epoch buckets it covers, candidates pair
    inside a bucket (equi-join Catalyst hash-partitions), the exact
    overlap predicate filters, and a distinct on the two interval
    identities collapses pairs that co-occupy several buckets. Every
    stage is key-partitioned; nothing is O(sessions x bursts).

    Overlap mass accumulates in exact integer MICROSECONDS (epoch_us
    on both engines under UTC) so the hash comparison is
    associative-order-proof.

    Scale: shuffle volume = sum over intervals of buckets covered —
    linear in data for bounded-length intervals (sessions/bursts are
    gap-bounded by construction). The bucket width is the knob: ~the
    median interval length keeps the explode factor near 2; a skewed
    bucket (one hot hour) is a B68 salting candidate. Half-open
    semantics [start, end): touching intervals do NOT overlap."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000

    def islands(df, key, gap):
        return df.groupBy(
            key, F.session_window("ts", gap).alias("w")
        ).agg(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("a_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("b_us"),
        )

    sess = islands(ev, "user_id", "30 minutes").withColumnRenamed(
        "user_id", "s_key"
    )
    burst = islands(ev, "event_type", "5 minutes").withColumnRenamed(
        "event_type", "b_key"
    )

    def gridded(df, prefix):
        return df.select(
            F.col("s_key" if prefix == "s" else "b_key"),
            F.col("a_us").alias(f"{prefix}_a"),
            F.col("b_us").alias(f"{prefix}_b"),
            F.explode(
                F.sequence(
                    (F.col("a_us") / hour_us).cast("bigint"),
                    ((F.col("b_us") - 1) / hour_us).cast("bigint"),
                )
            ).alias("bkt"),
        )

    # Pin the bucket exchange's width (round 12, guide §2.5's AQE
    # blind spot): the per-side exchanges are KB-scale, so AQE
    # coalesces the join to 1-2 partitions — but the pairwise
    # candidate EXPANSION happens after the shuffle read, serializing
    # the bucket products + distinct onto those cores (measured: one
    # 1.3 s 2-task job holding most of the query). An explicit
    # repartition(N, bkt) disables coalescing for exactly this
    # exchange; N = defaultParallelism scales with the cluster and
    # the ~one-bucket-per-hour key has plenty of entropy for it.
    width = spark.sparkContext.defaultParallelism
    cand = (
        gridded(sess, "s").repartition(width, "bkt")
        .join(gridded(burst, "b").repartition(width, "bkt"), "bkt")
        .filter((F.col("s_a") < F.col("b_b")) & (F.col("b_a") < F.col("s_b")))
        # an (interval, interval) pair may share several buckets: keep one
        .select("s_key", "s_a", "s_b", "b_key", "b_a", "b_b")
        .distinct()
    )
    return (
        cand.groupBy(
            F.col("s_key").alias("user_id"), F.col("b_key").alias("event_type")
        )
        .agg(
            F.count("*").alias("n_bursts"),
            F.sum(
                F.least("s_b", "b_b") - F.greatest("s_a", "b_a")
            ).cast("long").alias("overlap_micros"),
        )
    )


@query(
    "q_b132_runtime_bloom_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def q_b132_runtime_bloom_join(spark, sf_dir):
    """B132: RUNTIME bloom-filter join pruning — when a shuffle join's
    build side is selective (URGENT orders here) but too big to
    broadcast, Catalyst injects a bloom_filter_agg subquery on the
    build side and a might_contain() predicate on the PROBE side's
    scan, so non-matching fact rows die before the shuffle instead of
    being hashed, serialized, and discarded by the join. This is the
    row-level runtime companion to B67's partition-level DPP, and at
    100 TB it is the difference between shuffling the full fact table
    and shuffling the ~fraction that joins.

    Broadcast is disabled and the bloom thresholds opened in a
    ``session.scoped`` session to force the shuffle-join-with-bloom
    shape deterministically at fixture scale;
    on a real cluster the optimizer makes the same choice from stats
    when the build side exceeds the broadcast budget. Plan-pinned in
    tests/test_plans.py (might_contain on the probe scan)."""
    sess = scoped(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
        },
    )
    li = load_table(sess, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(sess, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# B136: explicit join-strategy hints (BROADCAST / MERGE / SHUFFLE_HASH)
# ---------------------------------------------------------------------------

_STRATEGIES = ("broadcast", "merge", "shuffle_hash")


@query(
    "q_b136_join_strategy_hints",
    oracle="""
    WITH agg AS (
      SELECT c.c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT s.strategy, a.c_mktsegment, a.n_orders, a.revenue
    FROM (VALUES ('broadcast'), ('merge'), ('shuffle_hash'))
           AS s(strategy)
    CROSS JOIN agg a
    ORDER BY s.strategy, a.c_mktsegment
    """,
)
def q_b136_join_strategy_hints(spark, sf_dir):
    """B136: the join-STRATEGY control surface — the same
    orders-by-customer revenue rollup executed under each of Spark's
    three equi-join physical strategies, selected explicitly with
    hints: `broadcast` (replicate the dim, no shuffle of the fact),
    `merge` (sort-merge: shuffle+sort both sides, the robust
    spill-safe default for big-big), and `shuffle_hash` (shuffle both
    sides but build a hash table instead of sorting — cheaper than
    merge when one side's PARTITIONS fit in memory and sort order
    isn't reusable). Results are strategy-invariant by definition —
    the oracle is ONE aggregate cross-joined with the three labels —
    which is exactly the point: this query is the executable proof
    plus a plan pin (tests/test_plans.py) that each hint actually
    selects BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin.

    Why it matters at 100 TB: the optimizer's choice flips on stats
    and thresholds (autoBroadcastJoinThreshold, AQE runtime sizes);
    pinning a strategy per-join with a hint is the documented
    override when you know better — e.g. forcing shuffle_hash for a
    skew-free mid-sized dim that misses the broadcast threshold
    avoids two full sorts of a 100 TB fact table.

    Engine note: each branch re-aggregates under its own hint (three
    scans at bench scale), because hints attach to the logical
    subtree — sharing one aggregate would collapse the three plans
    into one join. The exact DECIMAL(38,6) revenue accumulation
    makes all three branches bit-identical, so the union is safe for
    a value-hash gate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def rollup(strategy: str) -> DataFrame:
        joined = o.join(
            c.hint(strategy), o.o_custkey == c.c_custkey
        )
        return (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                dsum("o_totalprice").alias("revenue"),
            )
            .select(
                F.lit(strategy).alias("strategy"),
                "c_mktsegment",
                "n_orders",
                "revenue",
            )
        )

    out = rollup(_STRATEGIES[0])
    for s in _STRATEGIES[1:]:
        out = out.unionAll(rollup(s))
    return out.orderBy("strategy", "c_mktsegment")


@query(
    "q_b140_aqe_skew_join",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN -1 ELSE user_id END
               AS skew_key,
             value
      FROM events
    ),
    dim AS (
      SELECT DISTINCT skew_key, abs(skew_key) % 5 AS grp FROM fact
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
             AS total_value
    FROM fact JOIN dim USING (skew_key)
    GROUP BY grp ORDER BY grp
    """,
)
def q_b140_aqe_skew_join(spark, sf_dir):
    """B140: RUNTIME skew-join handling — AQE's OptimizeSkewedJoin
    splitting a hot partition, the automatic counterpart to B68's
    hand salting. A 70%-hot key would pin one sort-merge task at ~70%
    of the join's bytes (the straggler that defines wall-clock at
    100 TB); with skewJoin enabled AQE measures the map output at the
    shuffle barrier, splits the oversized partition into
    advisory-sized slices, and replicates the matching dim rows per
    slice — B68's exact salt-and-replicate contract, derived from
    MEASURED sizes at runtime instead of a key histogram known in
    advance. The executed plan's SortMergeJoin carries `skew=true`
    (pinned in tests/test_plans.py); the result is identical either
    way, which is what the oracle checks.

    Where B68 remains the right tool: skew known ahead of time + a
    downstream consumer that must see one partition per key. AQE's
    version needs no prior knowledge and composes with every join in
    a plan — the default posture for 100 TB ad-hoc SQL, which is why
    the engine ships with AQE on (session.py) and this query only has
    to SHRINK thresholds to fixture scale, not turn anything on.

    The session is tuned so AQE's skew-join rule can fire at fixture
    scale: a 70%-hot join key (every user_id with user_id % 10 < 7
    collapses onto key -1) sort-merge-joined to its key dim.
    Thresholds are scaled to the fixture's shuffle sizes the same way a
    production job scales them to advisory partition size; broadcast
    is disabled on BOTH the static and AQE paths so the runtime skew
    split — not a broadcast rescue — is what handles the hot key. The
    settings live on a ``session.scoped`` session, and the rollup is
    returned on it: it reads only the fixture and its own checkpoint.
    Money math: DECIMAL(38,6) accumulation, one edge round."""
    # Thresholds scale with the fact (the fixture spans 100x across
    # scale factors; production sets these as absolute knobs): aim the
    # skew threshold at ~half the hot partition's compressed bytes
    # (~70% of rows x ~6 B/row compressed) so the split yields a few
    # advisory-sized slices at every sf instead of thousands of
    # micro-tasks at sf0.1 or nothing at sf0.001. Counted on the
    # caller's session, before the scoped one opens with them.
    n = load_table(spark, sf_dir, "events").count()
    threshold = max(1024, int(0.7 * n * 6 / 2))
    sess = scoped(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # The join feeds a groupBy(grp) that reshuffles regardless,
            # but the skew rule's extra-shuffle guard can't see that —
            # force it (the documented knob for exactly this
            # join-then-reaggregate shape).
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": (
                str(threshold)
            ),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
                max(512, threshold // 2)
            ),
        },
    )
    # The fixture is ONE parquet file = one map task; AQE splits a
    # skewed reduce partition into contiguous MAPPER ranges, so with a
    # single mapper there is nothing to split and the rule silently
    # no-ops (verified empirically). The round-robin repartition
    # stands in for the thousands of scan tasks a real table has.
    fact = load_table(sess, sf_dir, "events").repartition(16).select(
        F.when(F.col("user_id") % 10 < 7, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "value",
    )
    # The dim is MATERIALIZED (k-sized key table, the dim-table
    # stand-in) rather than derived lazily from the fact: a derived
    # dim leaves its final HashAggregate between the join's Sort and
    # the shuffle stage, and OptimizeSkewedJoin's pattern only fires
    # on Sort-directly-over-shuffle children. The materialization is a
    # JVM-side localCheckpoint of the distributed distinct — NOT a
    # driver-side collect (distinct user_ids are unbounded in general;
    # the lineage cut gives the same scan-shaped child without the
    # keys ever leaving the executors).
    dim = (
        fact.select("skew_key")
        .distinct()
        .withColumn("grp", F.abs(F.col("skew_key")) % 5)
        .localCheckpoint(eager=True)
    )
    return (
        fact.join(dim, "skew_key")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("total_value"),
        )
        .orderBy("grp")
    )


@query(
    "q_b162_sql_semi_anti_join",
    oracle="""
    WITH buyers AS (
      SELECT c.c_custkey, c.c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 200000)
    ),
    idle AS (
      SELECT c.c_custkey, c.c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
    )
    SELECT 'big_buyer' AS cohort, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM buyers GROUP BY c_mktsegment
    UNION ALL
    SELECT 'no_orders' AS cohort, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM idle GROUP BY c_mktsegment
    ORDER BY cohort, c_mktsegment
    """,
)
def q_b162_sql_semi_anti_join(spark, sf_dir):
    """B162: LEFT SEMI / LEFT ANTI JOIN as SQL TEXT — B10/B11 cover
    the DataFrame surface; migrating HiveQL arrives spelled `LEFT
    SEMI JOIN` / `LEFT ANTI JOIN`, a grammar production of its own
    (ANSI SQL has no semi-join keyword — the standard spells it
    EXISTS, which is why the ORACLE uses EXISTS/NOT EXISTS: the check
    is that Spark's dialect keyword means exactly the standard's
    subquery semantics, including the no-duplication guarantee a
    plain JOIN+DISTINCT would fake wrong for multi-order customers).

    One statement exercises both: big-buyer customers (semi on a
    pushed-down price predicate) and never-ordered customers (anti),
    each rolled up by segment — the existence-cohort report shape.

    Scale: semi/anti hash joins keep only the probe side's columns
    and short-circuit on first match — no fact-side fan-out ever
    materializes; the build side is the filtered orderkey set. Same
    physical nodes as B10/B11, arriving through the parser."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "b162_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "b162_orders"
    )
    return spark.sql(
        """
        WITH buyers AS (
          SELECT c.c_custkey, c.c_mktsegment FROM b162_customer c
          LEFT SEMI JOIN b162_orders o
            ON o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
        ),
        idle AS (
          SELECT c.c_custkey, c.c_mktsegment FROM b162_customer c
          LEFT ANTI JOIN b162_orders o ON o.o_custkey = c.c_custkey
        )
        SELECT 'big_buyer' AS cohort, c_mktsegment,
               COUNT(*) AS n_customers
        FROM buyers GROUP BY c_mktsegment
        UNION ALL
        SELECT 'no_orders' AS cohort, c_mktsegment,
               COUNT(*) AS n_customers
        FROM idle GROUP BY c_mktsegment
        ORDER BY cohort, c_mktsegment
        """
    )
