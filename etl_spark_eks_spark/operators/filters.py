"""Sources/sinks beyond Tier A (SURVEY §2 B1-B3) and
filter/projection/predicate operators (B4-B7).

Scale notes: every filter here is a parquet-pushable predicate
(min/max row-group skipping at 100 TB); projections prune the read
schema. B3's directory partitioning is the mechanism for partition
pruning on the read side — the Spark-native form of the reference's
Glue-partitioned output prefix.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import TABLES, load_table, register_views
from etl_spark_eks_spark.functions.exact import dsum
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.registry import query
from etl_spark_eks_spark.session import scoped
from etl_spark_eks_spark.sources.parquet_io import land_parquet


@query(
    "q_b1_register_star",
    oracle="""
    SELECT 'customer' AS tbl, COUNT(*) AS cnt FROM customer
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'region', COUNT(*) FROM region
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
)
def q_b1_register_star(spark, sf_dir):
    """B1: load + register every star-schema table as a named view (the
    Glue-database equivalent), then count each through spark.sql."""
    register_views(spark, sf_dir)
    pieces = [
        spark.sql(f"SELECT '{t}' AS tbl, COUNT(*) AS cnt FROM {t}") for t in TABLES
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_b2_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """,
)
def q_b2_json_extract(spark, sf_dir):
    """B2: JSON field extraction from string payloads — the SQS
    ``jsonBody: true`` event shape (reference:
    argo-events-manifests/eventsource-sqs.yaml:13)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_id", k.alias("k_val"), "event_type")
        .filter(F.col("k_val") >= 50)
    )


@query(
    "q_b3_partitioned_write",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           CAST(l_returnflag AS VARCHAR) AS l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_b3_partitioned_write(spark, sf_dir):
    """B3: directory-partitioned parquet write + pruned read-back of one
    partition. The read of partition R must scan only that directory
    (static partition pruning)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    back = land_parquet(
        li, "q_b3", sf_dir, "lineitem_part", partition_by=["l_returnflag"]
    ).filter(F.col("l_returnflag") == "R")
    # partition column round-trips as string; keep name + type explicit
    return back.withColumn("l_returnflag", F.col("l_returnflag").cast("string"))


@query(
    "q_b4_filter_conj",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount < 0.05
      AND l_returnflag = 'A'
    """,
)
def q_b4_filter_conj(spark, sf_dir):
    """B4: conjunctive range + equality predicates — all pushed to the
    parquet scan (asserted in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") < 0.05)
        & (F.col("l_returnflag") == "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_shipdate")


@query(
    "q_b5_filter_disj_in",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
       OR (o_totalprice BETWEEN 1000 AND 5000)
       OR o_orderpriority IS NULL
    """,
)
def q_b5_filter_disj_in(spark, sf_dir):
    """B5: disjunction of IN-list, BETWEEN, IS NULL."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        | F.col("o_totalprice").between(1000, 5000)
        | F.col("o_orderpriority").isNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "q_b6_project_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           l_quantity * 2.54 AS qty_scaled
    FROM lineitem
    """,
)
def q_b6_project_arith(spark, sf_dir):
    """B6: derived-expression projection. Per-row IEEE double arithmetic is
    deterministic, so no rounding is needed for oracle parity."""
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
        (F.col("l_quantity") * 2.54).alias("qty_scaled"),
    )


@query(
    "q_b7_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm
    FROM orders
    """,
)
def q_b7_case_when(spark, sf_dir):
    """B7: conditional expressions — when/otherwise, coalesce, nullif."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
    )


@query(
    "q_b69_corrupt_json_audit",
    oracle="""
    WITH landed AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 13 = 0
                  THEN substr(props, 1, len(props) - 2) ELSE props
             END AS props
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN json_valid(props) THEN 0 ELSE 1 END)
                AS BIGINT) AS n_corrupt,
           CAST(MAX(CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                    END) AS INTEGER) AS max_k
    FROM landed
    GROUP BY event_type
    """,
)
def q_b69_corrupt_json_audit(spark, sf_dir):
    """B69: corrupt-payload audit — schema-on-read resilience for the
    landing zone. The reference ingests raw JSON bodies straight off a
    queue (``jsonBody: true``, reference eventsource-sqs.yaml:13) with
    no validation anywhere; at 100 TB some fraction of landed payloads
    WILL be malformed, and a pipeline that either crashes on them or
    silently nulls them loses data either way. The engine's contract:
    parse with ``from_json`` (returns NULL on malformed input — never
    throws), count the corrupt rows per slice so the loss is AUDITED,
    and let clean rows flow. Corruption is simulated deterministically
    (every 13th event is truncated mid-object — trailing-garbage
    corruption would NOT do: PERMISSIVE from_json tolerates it) so the
    oracle can mirror it with DuckDB's json_valid.

    Scale: pure per-row parse + one aggregation — the audit costs
    nothing beyond the parse the pipeline already pays."""
    ev = load_table(spark, sf_dir, "events")
    landed = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 13 == 0,
            F.expr("substring(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = landed.withColumn(
        "m", F.from_json("props", "map<string,int>")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.max(F.element_at("m", "k")).cast("int").alias("max_k"),
    )


@query(
    "q_b82_try_cast_audit",
    oracle="""
    WITH mixed AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN event_type
                  ELSE CAST(event_id AS VARCHAR) END AS raw
      FROM events
    ),
    p AS (SELECT event_type, TRY_CAST(raw AS BIGINT) AS v FROM mixed)
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS parsed_sum
    FROM p
    GROUP BY event_type
    """,
)
def q_b82_try_cast_audit(spark, sf_dir):
    """B82: corrupt-SCALAR audit via ``try_cast`` — the value-level rung
    of the schema-on-read resilience ladder (B69 = malformed JSON
    payload, B75 = corrupt parquet file, B82 = unparseable field
    value). ``try_cast`` yields NULL instead of failing the task, so
    one bad cell in a trillion-row landing table cannot kill the job
    under ANSI mode; the audit aggregation counts what was rejected
    per slice while the clean values flow through the same pass.

    The fixture's fields all parse, so a deterministic 1-in-7 slice is
    re-routed through a non-numeric column to give the audit real
    corruption to count (same technique as B69's malformed-payload
    synthesis).

    Scale: pure per-row projection + one map-side-combined agg on a
    5-value key; zero extra scans, no shuffle of raw rows."""
    e = load_table(spark, sf_dir, "events")
    mixed = e.select(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.col("event_type"))
        .otherwise(F.col("event_id").cast("string"))
        .alias("raw"),
    )
    p = mixed.select(
        "event_type", F.expr("try_cast(raw AS BIGINT)").alias("v")
    )
    return p.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.coalesce(F.col("v"), F.lit(0))).alias("parsed_sum"),
    )


@query(
    "q_b122_try_arithmetic",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_orderkey % 97 = 0 AND l_orderkey > 100
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS n_add_overflow,
           CAST(SUM(CASE WHEN l_quantity = 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_div_by_zero,
           CAST(SUM(CAST(FLOOR(CASE WHEN l_quantity <> 1.0
                              THEN l_extendedprice / (l_quantity - 1.0)
                              ELSE 0.0 END * 1000000) AS BIGINT)) AS BIGINT)
               AS safe_ratio_micros
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_b122_try_arithmetic(spark, sf_dir):
    """B122: overflow/zero-safe `try_*` ARITHMETIC — the value-level
    ANSI-safety family completing the resilience ladder (B69 malformed
    JSON, B75 corrupt files, B82 unparseable scalars; this rung:
    arithmetic that would THROW under ANSI mode degrades to NULL per
    row instead of failing the task). `try_add` against a near-MAX
    addend overflows exactly on the planted ~1% sliver
    (l_orderkey % 97 == 0 and > 100 — mixed outcomes at every sf,
    the planted-positive-path rule), `try_divide` nulls where the
    denominator (l_quantity − 1) is zero; both NULL populations are
    counted per group in the same single pass, B89's
    fabricate-then-audit shape.

    MEASURED pathology, and why the overflow is a sliver: Spark's
    try_add is Math.addExact + catch, so every overflowING row pays
    JVM exception construction — with the overflow planted on ~100%
    of rows (the original shape) this query cost 10.2 s at sf0.1
    while the same audit with a 1% overflow band costs well under a
    second. try_divide's zero check is a branch, not an exception —
    free either way. The lesson generalizes: try_* is priced for
    corruption as the EXCEPTION; a feed where half the rows overflow
    needs a CASE pre-guard, not try_*.

    The oracle spells each try_* as its explicit CASE guard — which IS
    the claimed semantics (NULL exactly where the unguarded expression
    would error), independently derived rather than echoed. The safe
    ratios accumulate as exact integer MICROS (per-row FLOOR(x·1e6),
    then a bigint sum — B89/C66's discipline): a division result
    carries full double precision, and BOTH per-row double->decimal
    casting and per-row ROUND(x, 6) were measured to drift here
    (~1e-4 and ~2e-6 over 20k rows — the engines' tie-rounding rules
    differ), while FLOOR of the identical IEEE product has no ties to
    disagree on.

    Scale: pure per-row expressions inside whole-stage codegen + one
    map-side-combined aggregate; try_* costs one branch over the
    unchecked operator. The alternative — ANSI off, silent wraparound
    — corrupts data instead of flagging it; try_* is how a 100 TB
    pipeline gets ANSI's honesty without ANSI's task-killing blast
    radius."""
    li = load_table(spark, sf_dir, "lineitem")
    near_max = 9223372036854775707  # MAX_LONG - 100
    audited = li.select(
        "l_returnflag",
        F.try_add(
            F.col("l_orderkey"),
            F.when(
                (F.col("l_orderkey") % 97 == 0), F.lit(near_max)
            ).otherwise(F.lit(0)),
        ).alias("maybe_add"),
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - 1.0
        ).alias("maybe_ratio"),
    )
    return (
        audited.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("maybe_add").isNull().cast("long")).alias(
                "n_add_overflow"
            ),
            F.sum(F.col("maybe_ratio").isNull().cast("long")).alias(
                "n_div_by_zero"
            ),
            F.sum(
                F.floor(F.coalesce("maybe_ratio", F.lit(0.0)) * 1000000)
                .cast("long")
            ).alias("safe_ratio_micros"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_b174_ansi_mode_contract",
    oracle="""
    SELECT * FROM (VALUES
      ('ansi',   'array_oob',       'ERROR:INVALID_ARRAY_INDEX'),
      ('ansi',   'cast_bad_string', 'ERROR:CAST_INVALID_INPUT'),
      ('ansi',   'div_zero',        'ERROR:DIVIDE_BY_ZERO'),
      ('ansi',   'int_overflow',    'ERROR:ARITHMETIC_OVERFLOW'),
      ('legacy', 'array_oob',       'NULL'),
      ('legacy', 'cast_bad_string', 'NULL'),
      ('legacy', 'div_zero',        'NULL'),
      ('legacy', 'int_overflow',    '-2147483648')
    ) AS t(mode, expr_name, outcome)
    ORDER BY mode, expr_name
    """,
)
def q_b174_ansi_mode_contract(spark, sf_dir):
    """B174: the ANSI-mode CONTRACT pinned as data — what each
    canonical hazard does under `spark.sql.ansi.enabled` true vs
    false: division by zero, malformed string cast, 32-bit overflow,
    out-of-bounds array index. ANSI mode errors loudly with a stable
    error class; legacy mode returns NULL — except integer overflow,
    which silently WRAPS to -2147483648 (the one legacy behavior that
    corrupts data rather than nulling it, and the single strongest
    argument for ANSI-on in a lake; B122's try_* functions are the
    per-expression opt-back-in once ANSI is on). The outcomes are
    collected by actually EVALUATING each expression under two
    ``session.scoped`` sessions (the base session's conf is never
    touched) and pinned against a VALUES oracle: if an engine
    upgrade changes any cell, the hash breaks and the migration note
    updates consciously, not silently.

    Scale: 8 driver-side constant evaluations; the operator's value
    is the contract, not the compute. The four ERROR-level
    SQLQueryContextLogger lines per run are the EXPECTED artifact of
    evaluating the ANSI arm's failing expressions — caught, turned
    into data, and hash-checked; a silent run would mean the
    contract changed. The error-class names are
    Spark's stable public error conditions (SQLSTATE-backed), not
    message text."""
    import re

    exprs = {
        "div_zero": "1 div 0",
        "cast_bad_string": "CAST('12.7xyz' AS INT)",
        "int_overflow": "CAST(2147483647 AS INT) + CAST(1 AS INT)",
        "array_oob": "array(1,2)[5]",
    }
    rows = []
    for mode, flag in (("ansi", "true"), ("legacy", "false")):
        sess = scoped(spark, {"spark.sql.ansi.enabled": flag})
        for name, ex in exprs.items():
            try:
                v = sess.sql(f"SELECT {ex} AS v").first()["v"]
                out = "NULL" if v is None else str(v)
            except Exception as e:  # noqa: BLE001 — the outcome IS the datum
                m = re.search(r"\[([A-Z0-9_.]+)\]", str(e))
                out = "ERROR:" + (m.group(1) if m else type(e).__name__)
            rows.append((mode, name, out))
    return values_df(
        spark, rows, "mode string, expr_name string, outcome string"
    ).orderBy("mode", "expr_name")
