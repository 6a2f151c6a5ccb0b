"""Durable-catalog surface (SURVEY §2 A9/B61/B62) — the Glue/Athena
analogue the reference builds around its landed parquet.

The reference's SQL surface is not the job itself but the catalog it
feeds: a Glue database with (a) a crawler that re-infers schema from
whatever lands (reference addons.tf:289-297), and (b) a pinned external
table whose fixed column list projects the same prefix (reference
addons.tf:299-365), queried through Athena. Spark-native equivalents:

- B61: ``saveAsTable`` into the session warehouse = the pinned external
  table. The catalog records schema, format, AND partitioning, so later
  ``spark.sql`` over the table name gets partition pruning and needs no
  knowledge of file layout — exactly what Athena gets from Glue.
- B62: ``mergeSchema`` read over a prefix where batches drifted = the
  crawler view; the pinned projection over the same files (A8-style) is
  what downstream contracts see. Both views coexist over one prefix,
  like the reference's crawler table vs pinned table.
- A9: the reference names its added column ``current_date``
  (pyspark-taxi-trip.py:40, addons.tf:359-362) — an ANSI reserved word.
  The engine's canonical name is ``ingest_ts`` (q_a2); this query keeps
  the verbatim compat alias so reference users' SQL ports unchanged
  (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.functions.exact import dsum
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.operators.tier_a import INGEST_TS
from etl_spark_eks_spark.registry import query
from etl_spark_eks_spark.session import scoped
from etl_spark_eks_spark.sources.parquet_io import (
    fixture_fingerprint as _fixture_fingerprint,
    fresh_scratch,
    is_staged as _staged,
    land_parquet,
    mark_staged as _mark_staged,
    read_back,
    scratch_path,
    sf_tag,
)


@query(
    "q_a9_compat_current_date",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           TIMESTAMP '{INGEST_TS}' AS "current_date"
    FROM orders
    """,
)
def q_a9_compat_current_date(spark, sf_dir):
    """A9: reserved-word compat alias — expose the batch watermark under
    the reference's verbatim column name ``current_date``. Any SQL layer
    over it must quote the identifier (the oracle does); per-row cost is
    zero (plan-time constant, same as A2)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.lit(INGEST_TS).cast("timestamp").alias("current_date"),
    )


@query(
    "q_b61_persistent_catalog",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b61_persistent_catalog(spark, sf_dir):
    """B61: durable catalog table + SQL over it (the Athena-over-Glue
    analogue, reference addons.tf:299-365).

    ``saveAsTable`` records schema/format/partitioning in the metastore;
    the follow-up query addresses the TABLE NAME through ``spark.sql``
    with no path knowledge — and because the table is partitioned by
    ``o_orderpriority``, the catalog turns the IN-filter into partition
    pruning: the scan touches 2 of 5 directories, no footer even read
    for the rest (asserted in tests/test_plans.py). At 100 TB this is
    the layout decision that makes priority-sliced queries cheap forever
    after one write. The write itself pays one shuffle (partitionBy);
    like B60, that cost amortizes over every later query."""
    tag = sf_tag(sf_dir)
    name = f"wh_orders_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    (
        orders.write.format("parquet")
        .mode("overwrite")
        .partitionBy("o_orderpriority")
        .option("path", scratch_path("q_b61", tag, "wh_orders"))
        .saveAsTable(name)
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM {name}
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "q_b62_schema_drift",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
             AS o_orderpriority
    FROM orders
    """,
)
def q_b62_schema_drift(spark, sf_dir):
    """B62: schema drift — the crawler view vs the pinned view over one
    prefix (reference addons.tf:289-297 vs :299-365).

    Batch 1 lands (o_orderkey, o_totalprice); batch 2 drifts, adding
    o_orderpriority. A ``mergeSchema`` read re-infers the union schema
    with nulls where the old files lack the column — what the
    reference's crawler does on re-crawl — while the pinned contract
    (A8-style fixed projection) keeps reading its fixed columns from the
    same files untouched. This query returns the crawler view so the
    null-fill semantics are oracle-checked.

    Scale: mergeSchema reconciles FOOTERS (one small read per file),
    not data; at 100 TB prefer schema-on-catalog (B61) for hot paths
    and reserve merge-on-read for landing zones, which is exactly the
    reference's crawler-vs-table split."""
    orders = load_table(spark, sf_dir, "orders")
    prefix = fresh_scratch("q_b62", sf_tag(sf_dir), "landing")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.parquet(prefix)
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(prefix)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(prefix)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "q_b67_dynamic_partition_pruning",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total
    FROM orders o
    JOIN (SELECT DISTINCT o_orderpriority AS pr FROM orders
          WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%') d
      ON o.o_orderpriority = d.pr
    GROUP BY o.o_orderpriority
    """,
)
def q_b67_dynamic_partition_pruning(spark, sf_dir):
    """B67: DYNAMIC partition pruning — the partition filter arrives
    from a JOIN at runtime, not from a literal predicate (that static
    case is B61). The fact table is laid out partitioned by priority;
    the dimension side carries the selective filter; Spark broadcasts
    the dim, collects its join-key values, and injects them as a
    partition filter into the fact SCAN (``dynamicpruningexpression``
    in the plan, asserted in tests/test_plans.py) — directories for
    non-qualifying priorities are never listed or read.

    At 100 TB this is THE mechanism that makes star-schema queries over
    date/tenant-partitioned facts cheap: the fact scan is bounded by
    the dim filter's selectivity without the query author naming
    partitions. Works through the same catalog surface the reference
    exposes via Glue/Athena (reference addons.tf:299-365)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    fact = land_parquet(
        orders, "q_b67", sf_dir, "fact", partition_by=["o_orderpriority"]
    )
    dim = land_parquet(
        orders.select(F.col("o_orderpriority").alias("pr")).distinct(),
        "q_b67",
        sf_dir,
        "dim",
    ).filter(
        F.col("pr").startswith("1-") | F.col("pr").startswith("2-")
    )
    return (
        fact.join(F.broadcast(dim), fact.o_orderpriority == dim.pr)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "q_b75_corrupt_file_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_b75_corrupt_file_scan(spark, sf_dir):
    """B75 (extension): file-level corruption resilience — the landing
    prefix contains one garbage ``.parquet`` file next to the good
    data (a truncated upload, the routine failure of at-least-once
    delivery to object storage; B69 is the ROW-level sibling for
    malformed JSON values). ``ignoreCorruptFiles`` skips unreadable
    files instead of failing the scan; the clean rows aggregate to
    exactly the events answer — the oracle. The schema is pinned from
    the good table first (footer inference over a dirty prefix would
    trip on the corrupt footer before the scan even starts — schema
    pinning is part of the resilience contract, the same lesson as the
    crawler-vs-pinned split in B62).

    Scale: a per-file read-path decision, zero plan overhead on clean
    files; the skip is logged per file. At 100 TB pair it with an
    audit job (list skipped files from logs/metrics) — silently
    shrinking input is only acceptable because the skip is observable."""
    import os
    import shutil

    tag = sf_tag(sf_dir)
    indir = fresh_scratch("q_b75", tag, "landing")
    os.makedirs(indir, exist_ok=True)
    good = load_table(spark, sf_dir, "events")
    schema = good.schema
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(indir, "part-000.parquet"))
    with open(os.path.join(indir, "part-001.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file \x00\xff" * 64)
    clean = (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(indir)
    )
    return clean.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@query(
    "q_b80_jsonl_source",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q_b80_jsonl_source(spark, sf_dir):
    """B80 (extension): JSON-lines landing-zone source — the events
    table staged as JSONL (one JSON object per line, the form SQS
    payloads land in before any parquet conversion; reference
    eventsource-sqs.yaml:13 declares jsonBody) and read back through
    ``spark.read.schema(...).json``. The schema is EXPLICIT: JSONL
    carries no footer, so schema-on-read here means sampling the whole
    input (a full extra scan at 100 TB) unless the contract is pinned
    — the B75/B62 lesson in source form. The nested ``props`` payload
    stays a raw string through the roundtrip and is typed at query
    time (B2/B42's path), so producer-side payload drift cannot break
    ingestion.

    Scale: JSONL is line-splittable, so the read parallelizes by
    maxPartitionBytes exactly like parquet — but every byte is parsed
    per read with no column pruning or predicate pushdown, which is
    why the engine's landing pattern is JSONL in, parquet out (A7),
    with JSONL read exactly once."""
    import os

    tag = sf_tag(sf_dir)
    landing = fresh_scratch("q_b80", tag, "landing")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").json(landing)
    schema = (
        "event_id long, user_id long, event_type string, "
        "value double, props string"
    )
    back = spark.read.schema(schema).json(landing)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "q_b89_csv_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value * 1000000 AS DECIMAL(38,0))) AS BIGINT)
             AS value_micros,
           COUNT(event_id) AS n_valid_ids,
           COUNT(user_id) AS n_valid_users
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT '_corrupt', 7, 0, 0, 0
    """,
)
def q_b89_csv_source(spark, sf_dir):
    """B89: CSV landing-zone source with malformed-row quarantine —
    the events table staged as headerless CSV (the oldest landing
    format every ingest surface still meets), plus an injected file of
    7 malformed lines (non-numeric ids, truncated records), read back
    under an EXPLICIT schema in PERMISSIVE mode with a
    ``columnNameOfCorruptRecord`` spill column. Good rows aggregate
    normally; corrupt rows are COUNTED in the same pass (the B69/B75
    resilience-ladder rung for delimited text: row-level quarantine,
    not task failure, not silent drop).

    Values hash-compare as exact integer micros: the CSV roundtrip of
    a double is textual and round-trip exact (Java Double.toString),
    and scaling to DECIMAL micros before SUM keeps the aggregate
    associative and order-independent across engines (functions/
    exact.py discipline).

    Scale: CSV is line-splittable so the read parallelizes like
    parquet, but with zero pruning/pushdown and per-byte parse cost —
    the engine's pattern is CSV in, parquet out (A7), parsed exactly
    once. The corrupt-record column materializes only for bad rows
    (PERMISSIVE keeps it null otherwise); the audit is a map-side
    flag aggregated with the data pass, never a second scan."""
    import os

    tag = sf_tag(sf_dir)
    landing = fresh_scratch("q_b89", tag, "landing")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").csv(landing)
    bad_lines = [
        "notanumber,77,click,1.5",
        "123,notuser,view,2.5",
        "124,88,purchase,notadouble",
        "truncated,row",
        "125",
        "zzz,,click,",
        "126,99,view,1.0,extra,cols,beyond,schema",
    ]
    with open(os.path.join(landing, "part-bad.csv"), "w") as fh:
        fh.write("\n".join(bad_lines) + "\n")
    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "_bad string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(landing)
    )
    # Good rows and the quarantine count in ONE aggregation pass: the
    # group key folds corrupt rows into a '_corrupt' bucket (Spark also
    # rejects a plan whose only referenced column is the corrupt-record
    # spill — QUERY_ONLY_CORRUPT_RECORD_COLUMN — so the single-pass
    # form is both the efficient and the legal one). Every schema
    # column is referenced in the aggregate ON PURPOSE: the CSV parser
    # prunes unreferenced columns, and a pruned column's conversion
    # failure is never even attempted, silently un-flagging its rows
    # (measured: 6 of 7 injected rows passed as "good" when event_id/
    # user_id were pruned). Corrupt-row detection is only as wide as
    # the columns the query touches — an audit query must touch all.
    bucket = F.when(F.col("_bad").isNotNull(), F.lit("_corrupt")).otherwise(
        F.col("event_type")
    )
    good = F.col("_bad").isNull()
    micros = F.when(
        good, (F.col("value") * 1000000).cast("decimal(38,0)")
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    return back.groupBy(bucket.alias("event_type")).agg(
        F.count("*").alias("n_events"),
        F.sum(micros).cast("long").alias("value_micros"),
        F.count(F.when(good, F.col("event_id"))).alias("n_valid_ids"),
        F.count(F.when(good, F.col("user_id"))).alias("n_valid_users"),
    )


@query(
    "q_b92_orc_source",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    """,
)
def q_b92_orc_source(spark, sf_dir):
    """B92: ORC landing/interchange source — the orders table staged as
    ORC (the other columnar format a lake ingests from Hive-era
    producers) and read back through the native reader with a
    predicate that must PUSH DOWN into the ORC scan (ORC carries
    stripe/row-group min-max indexes exactly like parquet; the plan
    test pins PushedFilters). Aggregation in exact integer cents so
    the hash comparison is associative-order-proof.

    Scale: ORC and parquet are interchangeable at the plan level —
    same vectorized columnar scan, same pushdown/pruning machinery,
    bytes-based split sizing. The engine's contract is format-agnostic
    ingestion: CSV/JSONL/XML rows (B89/B80/B93) parse once into a
    columnar format; ORC-vs-parquet is a producer compatibility
    choice, not a plan change."""
    tag = sf_tag(sf_dir)
    landing = scratch_path("q_b92", tag, "orc")
    fp = _fixture_fingerprint(sf_dir, "orders")
    if not _staged(landing, fp):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").orc(landing)
        _mark_staged(landing, fp)
    back = spark.read.orc(landing).filter(F.col("o_totalprice") > 100000)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("long")
        .alias("total_cents"),
    )


@query(
    "q_b93_xml_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value * 1000000 AS DECIMAL(38,0))) AS BIGINT)
             AS value_micros
    FROM events
    GROUP BY event_type
    """,
)
def q_b93_xml_source(spark, sf_dir):
    """B93: XML landing source (Spark 4's built-in xml data source) —
    the events table staged as one <event> element per row and read
    back under an EXPLICIT schema with rowTag. XML is the config/B2B
    feed format (SOAP exports, RSS, sitemaps, legacy ERP drops) that
    still lands in every enterprise lake; like JSONL/CSV it carries no
    footer, so schema-on-read without a pinned schema means sampling
    the whole input. Numeric roundtrip is textual and exact
    (Double.toString), and the aggregate accumulates exact integer
    micros, so the hash comparison against the original table is
    precise.

    Scale: XML is the one landing format here that is NOT trivially
    line-splittable — record boundaries need rowTag-aware scanning —
    so ingest parallelism comes from many files (the landing dir is
    written with the upstream partitioning preserved). Same
    parse-once-then-parquet contract as B80/B89."""
    tag = sf_tag(sf_dir)
    landing = scratch_path("q_b93", tag, "xml")
    fp = _fixture_fingerprint(sf_dir, "events")
    if not _staged(landing, fp):
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).write.format("xml").option("rootTag", "events").option(
            "rowTag", "event"
        ).mode("overwrite").save(landing)
        _mark_staged(landing, fp)
    schema = "event_id long, event_type string, value double"
    back = (
        spark.read.format("xml")
        .schema(schema)
        .option("rowTag", "event")
        .load(landing)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("value") * 1000000).cast("decimal(38,0)"))
        .cast("long")
        .alias("value_micros"),
    )


@query(
    "q_b97_python_datasource",
    oracle="""
    SELECT 's' || CAST(i % 8 AS VARCHAR) AS sensor,
           COUNT(*) AS n_readings,
           CAST(SUM((i * 37) % 1000) AS BIGINT) AS sum_deci
    FROM generate_series(0, 99999) t(i)
    GROUP BY 1
    """,
)
def q_b97_python_datasource(spark, sf_dir):
    """B97: custom source via the Python Data Source API (Spark 4) —
    a from-scratch pluggable batch source: DataSource (name/schema/
    options) -> DataSourceReader -> partitions() -> per-partition
    generator. The source here synthesizes a deterministic 100k-row
    sensor feed over 8 InputPartitions (the shape of any
    API-/queue-/device-backed feed that has no file listing to scan),
    and the DuckDB oracle regenerates the identical feed from the
    formula — checking the full plumbing: schema declaration, option
    parsing, partition planning, per-partition iteration, and type
    mapping back into columnar rows.

    The classes are defined in-function ON PURPOSE: cloudpickle then
    ships them by VALUE to the Python workers, so the source works
    regardless of whether the engine package is importable on the
    executor side — the deployment-free path for one-off connectors
    (a packaged connector would live at module scope).

    Scale: partitions() is the parallelism contract — each partition
    is an independent generator task, so throughput scales with
    partition count exactly like file splits; a real feed source maps
    shards/offset ranges to InputPartitions. Python-side generation
    pays the Python-worker serialization toll (fine for control-plane
    and landing feeds; columnar formats stay the bulk path). Reading
    is round(reading*10) to recover the exact integer deci-units the
    formula defines — the float roundtrip is IEEE-exact for these
    magnitudes."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class FeedReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", "100000"))
            self.p = int(options.get("partitions", "8"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.p)]

        def read(self, partition):
            i = partition.value
            lo = i * self.n // self.p
            hi = (i + 1) * self.n // self.p
            for rid in range(lo, hi):
                yield (rid, f"s{rid % 8}", (rid * 37 % 1000) / 10.0)

    class SyntheticFeedSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_feed"

        def schema(self):
            return "id long, sensor string, reading double"

        def reader(self, schema):
            return FeedReader(self.options)

    spark.dataSource.register(SyntheticFeedSource)
    feed = (
        spark.read.format("synthetic_feed")
        .option("rows", "100000")
        .option("partitions", "8")
        .load()
    )
    return feed.groupBy("sensor").agg(
        F.count("*").alias("n_readings"),
        F.sum(F.round(F.col("reading") * 10).cast("long")).alias("sum_deci"),
    )


@query(
    "q_b111_text_source",
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                    t -> t <> ''))) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_b111_text_source(spark, sf_dir):
    r"""B111: line-oriented TEXT source — the documents table staged as
    tab-separated lines (`doc_id\tlang\ttext`, one per row) and read
    back through `spark.read.text`, the rawest landing format every
    lake still ingests (log shipping, crawler dumps, `.txt` corpora).
    Text carries no schema at all: the reader yields one `value`
    column and the query owns the parse (split on the first two tabs
    — positions, not a regex over the payload), which is exactly the
    schema-on-read contract's floor. Per-language doc/token/char
    totals must equal the parquet truth.

    The fixture text is verified single-line ASCII with no tabs, so
    the framing is lossless; a production corpus would escape or
    length-prefix instead — the parse seam is the same.

    Scale: text splits on newlines, so ingest parallelism is
    bytes-based like CSV/JSONL (B89/B80): many splits per file, one
    pass, parse-once-then-columnar. Same one-exchange aggregate as
    every landing audit here."""
    d = load_table(spark, sf_dir, "documents")
    tag = sf_tag(sf_dir)
    landing = scratch_path("q_b111", tag, "text")
    fp = _fixture_fingerprint(sf_dir, "documents")
    if not _staged(landing, fp):
        d.select(
            F.concat_ws("\t", F.col("doc_id"), F.col("lang"), F.col("text"))
            .alias("value")
        ).write.mode("overwrite").text(landing)
        _mark_staged(landing, fp)
    back = spark.read.text(landing)
    tab1 = F.instr("value", "\t")
    rest = F.expr("substring(value, instr(value, '\t') + 1)")
    tab2 = F.instr(rest, "\t")
    parsed = back.select(
        F.substring("value", F.lit(1), tab1 - 1).cast("long").alias("doc_id"),
        F.substring(rest, F.lit(1), tab2 - 1).alias("lang"),
        F.expr(
            "substring(substring(value, instr(value, '\t') + 1),"
            " instr(substring(value, instr(value, '\t') + 1), '\t') + 1)"
        ).alias("text"),
    )
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )


@query(
    "q_b112_binaryfile_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) + COUNT(*) - 1 AS BIGINT) AS blob_bytes,
           sha256(string_agg(text, chr(10) ORDER BY doc_id)) AS blob_sha256
    FROM documents
    GROUP BY source
    """,
)
def q_b112_binaryfile_source(spark, sf_dir):
    """B112: whole-file BINARY source (`spark.read.format("binaryFile")`)
    — one opaque blob per upstream source (each source's docs joined
    by newline in doc_id order, the deterministic framing), read back
    as (path, length, content) and audited: per-source byte length and
    sha256 must equal the parquet truth's aggregate, computed
    independently by DuckDB over the text column. binaryFile is the
    ingestion door for everything that is NOT rows — model
    checkpoints, images, tarballs (M-tier's media path assumes
    exactly this reader shape); the audit (size + digest per blob) is
    the integrity gate a lake applies before any decode.

    Scale: binaryFile is one task per FILE (no intra-file splitting) —
    parallelism = file count, and each content cell materializes
    whole in executor memory; the documented contract is
    many-files-of-bounded-size (M3's shard packer exists to produce
    exactly that), never one giant blob. The sha256/length audit is
    per-file map work, zero shuffles beyond the final 20-row fold."""
    import os

    d = load_table(spark, sf_dir, "documents")
    tag = sf_tag(sf_dir)
    landing = scratch_path("q_b112", tag, "bin")
    fp = _fixture_fingerprint(sf_dir, "documents")
    if not _staged(landing, fp):
        rows = (
            d.select("source", "doc_id", "text")
            .orderBy("source", "doc_id")
            .collect()
        )
        # driver-side staging loop: fixture-scale landing simulation
        # (20 files); at scale the producer is M3's shard packer
        blobs: dict[str, list[str]] = {}
        for r in rows:
            blobs.setdefault(r["source"], []).append(r["text"])
        os.makedirs(landing, exist_ok=True)
        for src, texts in blobs.items():
            with open(os.path.join(landing, f"{src}.blob"), "wb") as fh:
                fh.write("\n".join(texts).encode("utf-8"))
        _mark_staged(landing, fp)
    back = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.blob"
    ).load(landing)
    src = F.regexp_extract(
        F.col("path"), r"([^/]+)\.blob$", 1
    ).alias("source")
    per_file = back.select(
        src,
        F.col("length").alias("blob_bytes"),
        F.sha2("content", 256).alias("blob_sha256"),
    )
    n_docs = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    return per_file.join(F.broadcast(n_docs), "source").select(
        "source", "n_docs", "blob_bytes", "blob_sha256"
    )


# q_b119's planner settings: the broadcast decision must come from the
# catalog's statistics alone, so AQE is off and CBO on, and the
# threshold sits well under the dim's analyzed size at every sf and far
# under orders': stats, not defaults, must pick the build side.
_CBO_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "1MB",
}


@query(
    "q_b119_analyze_cbo_stats",
    oracle="""
    WITH dim AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total
    FROM orders o JOIN dim ON o.o_custkey = dim.c_custkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_b119_analyze_cbo_stats(spark, sf_dir):
    """B119: table/column STATISTICS + cost-based optimization — the
    Spark-native form of the reference's Glue crawler (addons.tf:
    289-297): the crawler's whole job is to walk landed files and
    record table metadata so the SQL engine (Athena) can plan against
    sizes it never re-measures. Here: two catalog tables are ANALYZEd
    (`COMPUTE STATISTICS` table-level + `FOR COLUMNS` on the join
    keys), CBO is enabled, and the fact⋈dim join is planned WITH
    ADAPTIVE EXECUTION OFF — so the broadcast decision can only come
    from the catalog's cost model, not from AQE's runtime shuffle
    sizes. The plan test pins BroadcastHashJoin with zero hints: the
    statistics alone carried the decision (and at 100 TB, stats-driven
    planning is what works BEFORE the first shuffle materializes —
    AQE only re-plans after).

    Session discipline: the AQE/CBO overrides live on a
    ``session.scoped`` session, so no concurrently-running query
    observes them. The rows are collected and returned through
    ``values_df``, because the next call rewrites the two tables the
    result reads.

    Scale: ANALYZE is one scan per table, amortized across every later
    query (and incremental in real deployments — partition-level
    stats). The join output is aggregated to priority cardinality
    before returning."""
    tag = sf_tag(sf_dir)
    sess = scoped(spark, _CBO_CONF)
    fact = f"wh_cbo_orders_{tag}"
    dim = f"wh_cbo_customer_{tag}"
    load_table(sess, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    ).write.format("parquet").mode("overwrite").option(
        "path", scratch_path("q_b119", tag, "orders")
    ).saveAsTable(fact)
    load_table(sess, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).write.format("parquet").mode("overwrite").option(
        "path", scratch_path("q_b119", tag, "customer")
    ).saveAsTable(dim)
    for t, cols in ((fact, "o_custkey"), (dim, "c_custkey, c_mktsegment")):
        sess.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        sess.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS {cols}")
    out = sess.sql(
        f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS total
        FROM {fact} o
        JOIN (SELECT c_custkey FROM {dim}
              WHERE c_mktsegment = 'BUILDING') d
          ON o.o_custkey = d.c_custkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )
    return values_df(spark, out.collect(), out.schema)


def cbo_join_plan(spark, sf_dir) -> str:
    """The q_b119 join's physical plan under stats+CBO (AQE off), for
    the plan test: must contain BroadcastHashJoin with NO hint."""
    import io
    from contextlib import redirect_stdout

    tag = sf_tag(sf_dir)
    # q_b119 must have run first in this session (tables + stats exist)
    df = scoped(spark, _CBO_CONF).sql(
        f"""
        SELECT o.o_orderpriority, COUNT(*) AS n
        FROM wh_cbo_orders_{tag} o
        JOIN (SELECT c_custkey FROM wh_cbo_customer_{tag}
              WHERE c_mktsegment = 'BUILDING') d
          ON o.o_custkey = d.c_custkey
        GROUP BY o.o_orderpriority
        """
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@query(
    "q_b126_file_metadata",
    oracle="""
    SELECT l_returnflag,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_b126_file_metadata(spark, sf_dir):
    """B126: the hidden ``_metadata`` file column (Spark 3.4+) — every
    file-based scan exposes ``_metadata.file_name`` / ``file_size`` /
    ``row_index`` without the old input_file_name() UDF (which broke
    under whole-stage codegen boundaries). This is the lineage/audit
    primitive: WHICH physical file produced a row, joined against a
    manifest, is how ingest incident forensics work at fleet scale.

    Fixture: write lineitem partitioned by returnflag coalesced to one
    file per partition (repartition by the partition column first), read
    it back, and group by partition value counting DISTINCT files — the
    deterministic projection of the nondeterministic file names (1 per
    partition by construction; names themselves are uuid-bearing, so
    they never enter the result).

    Scale: _metadata is populated by the scan operator itself (constant
    per file, no shuffle, no UDF); grouping by it is an ordinary
    aggregation. The repartition-to-one-file-per-partition is fixture
    hygiene, not the operator."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    back = land_parquet(
        li.repartition("l_returnflag"),
        "q_b126",
        sf_dir,
        "li_meta",
        partition_by=["l_returnflag"],
    )
    return (
        back.select(
            F.col("l_returnflag").cast("string").alias("l_returnflag"),
            F.col("_metadata.file_name").alias("fname"),
            "l_quantity",
        )
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("fname").alias("n_files"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_b127_identifier_clause",
    oracle="""
    SELECT l_returnflag AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY group_key
    """,
)
def q_b127_identifier_clause(spark, sf_dir):
    """B127: the IDENTIFIER() clause (Spark 3.5+) — SQL-injection-safe
    PARAMETERIZED table and column names. B121 covers parameter markers
    for VALUES; identifiers are the other half (a `:tbl` marker can't
    name a table — IDENTIFIER(:tbl) can), which is how multi-tenant
    report templates bind `{table, group column}` per run without
    string-formatting SQL (the injection vector the clause exists to
    close).

    The plan after binding is identical to the literal query — analyzer
    surface only, so pushdown/pruning/partial agg all apply unchanged."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS group_key,
               COUNT(*) AS n_rows,
               SUM(CAST(IDENTIFIER(:qcol) AS BIGINT)) AS sum_qty
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:gcol)
        ORDER BY group_key
        """,
        args={"gcol": "l_returnflag", "qcol": "l_quantity", "tbl": "lineitem"},
    )


@query(
    "q_b133_sql_scripting",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_heavy,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS heavy_qty
    FROM lineitem
    WHERE l_quantity > (SELECT MAX(l_quantity) - 5.0 FROM lineitem)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_b133_sql_scripting(spark, sf_dir):
    """B133: SQL SCRIPTING (Spark 4.0 BEGIN...END) — multi-statement
    procedural SQL with DECLARE'd variables and SET from scalar
    subqueries, the migration path for warehouse stored-procedure
    workloads (Teradata BTEQ / T-SQL scripts) onto Spark without a
    Python driver program. The script's final SELECT is the result;
    each statement still compiles through Catalyst individually, so
    pushdown/pruning apply per statement and the variable binding is
    a driver-side scalar — control flow at the script layer, set
    processing in the engine (never row-at-a-time cursors).

    The script derives a threshold (MAX - 5) into a variable, then
    aggregates above it; the oracle inlines the same scalar subquery."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        BEGIN
          DECLARE heavy_floor DOUBLE;
          SET heavy_floor = (SELECT MAX(l_quantity) - 5.0 FROM lineitem);
          SELECT l_returnflag,
                 COUNT(*) AS n_heavy,
                 SUM(CAST(l_quantity AS BIGINT)) AS heavy_qty
          FROM lineitem
          WHERE l_quantity > heavy_floor
          GROUP BY l_returnflag
          ORDER BY l_returnflag;
        END
        """
    )


@query(
    "q_b134_execute_immediate",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b134_execute_immediate(spark, sf_dir):
    """B134: EXECUTE IMMEDIATE — dynamic SQL with USING parameter
    binding (Spark 4.0), the third leg of the gateway surface: B121
    binds VALUES into a static template, B127 binds IDENTIFIERS, this
    executes a query STRING assembled at runtime (the pattern behind
    catalog-driven report runners where the SQL text itself lives in
    a table) with its parameters still bound as typed literals, not
    string-spliced — the injection boundary survives the dynamism.
    Money sums accumulate as integer cents (exact.py discipline) since
    the dynamic path changes nothing about float summation order."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    template = (
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) "
        "AS total_cents "
        "FROM orders WHERE o_orderstatus = ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :tpl USING 'F'", args={"tpl": template}
    )


@query(
    "q_b137_column_defaults",
    oracle="""
    WITH landed AS (
      SELECT o_orderkey, o_totalprice,
             'landed' AS ingest_status, 0 AS retries, 'r6' AS batch
      FROM orders WHERE o_orderkey <= 5
    ), manual AS (
      SELECT * FROM (VALUES
        (1000001, 0.0,  'landed',   0, 'r6'),
        (1000002, 10.5, 'rejected', 3, 'r6'),
        (1000003, 1.5,  'landed',   0, 'r7')
      ) AS t(o_orderkey, o_totalprice, ingest_status, retries, batch)
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice,
           ingest_status, CAST(retries AS INTEGER) AS retries, batch
    FROM (SELECT * FROM landed UNION ALL SELECT * FROM manual)
    ORDER BY o_orderkey
    """,
)
def q_b137_column_defaults(spark, sf_dir):
    """B137: column DEFAULT values through the full lifecycle a landing
    table lives — the DDL surface that keeps audit columns populated
    without every writer knowing about them:

    1. CREATE TABLE with per-column DEFAULTs; a landing INSERT names
       only the data columns and the audit columns self-populate.
    2. INSERT with the explicit DEFAULT keyword and with overrides.
    3. ALTER TABLE ADD COLUMN ... DEFAULT — schema evolution as a
       METADATA-ONLY operation: existing parquet files are NOT
       rewritten; rows written before the column existed read back
       the EXISTENCE default captured at ALTER time. At 100 TB this
       is the difference between adding an audit column in
       milliseconds and rewriting a petabyte.
    4. ALTER COLUMN SET DEFAULT — changes the CURRENT default for
       future writes only; the existence default for old files stays
       frozen (verified: pre-ALTER rows keep 'r6' after the default
       moves to 'r7', the new row gets 'r7'). This is the subtle
       two-defaults semantics (existence vs current) that B62's
       mergeSchema path cannot express — drift reconciliation gives
       NULL for missing columns, defaults give the declared value.

    The result is the final table contents, deterministic by
    construction; DROP IF EXISTS + fresh scratch keep reruns
    idempotent (B50's discipline)."""
    tag = sf_tag(sf_dir)
    name = f"wh_defaults_{tag}"
    src = f"orders_src_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    path = fresh_scratch("q_b137", tag, "wh_defaults")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(src)
    spark.sql(
        f"""
        CREATE TABLE {name} (
          o_orderkey BIGINT,
          o_totalprice DOUBLE,
          ingest_status STRING DEFAULT 'landed',
          retries INT DEFAULT 0
        ) USING parquet LOCATION '{path}'
        """
    )
    spark.sql(
        f"""
        INSERT INTO {name} (o_orderkey, o_totalprice)
        SELECT o_orderkey, o_totalprice FROM {src} WHERE o_orderkey <= 5
        """
    )
    spark.sql(f"INSERT INTO {name} VALUES (1000001, 0.0, DEFAULT, DEFAULT)")
    spark.sql(f"INSERT INTO {name} VALUES (1000002, 10.5, 'rejected', 3)")
    spark.sql(f"ALTER TABLE {name} ADD COLUMN batch STRING DEFAULT 'r6'")
    spark.sql(f"ALTER TABLE {name} ALTER COLUMN batch SET DEFAULT 'r7'")
    spark.sql(
        f"INSERT INTO {name} (o_orderkey, o_totalprice) VALUES (1000003, 1.5)"
    )
    return spark.sql(f"SELECT * FROM {name} ORDER BY o_orderkey")


@query(
    "q_b144_dynamic_partition_overwrite",
    oracle="""
    WITH wave1 AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, 1 AS batch
      FROM orders
    ),
    wave2 AS (
      SELECT o_orderpriority, o_orderkey,
             o_totalprice * 2 AS o_totalprice, 2 AS batch
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ),
    final AS (
      SELECT * FROM wave1
      WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      UNION ALL
      SELECT * FROM wave2
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS total_price,
           CAST(MIN(batch) AS INT) AS min_batch,
           CAST(MAX(batch) AS INT) AS max_batch
    FROM final
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b144_dynamic_partition_overwrite(spark, sf_dir):
    """B144: DYNAMIC partition overwrite — `mode("overwrite")` with
    `partitionOverwriteMode=dynamic` replaces ONLY the partitions the
    incoming batch touches and leaves every other partition's files
    untouched. This is the idempotent-backfill primitive of a
    partitioned lake (re-land two corrected priority slices without
    rewriting — or worse, DROPPING — the other three): under the
    default STATIC mode the same statement wipes the whole table
    first, the classic production data-loss footgun, and the
    difference is one write OPTION, not a table format.

    The scenario writes all orders partitioned by o_orderpriority
    (wave 1), then overwrites with a corrected batch covering only
    URGENT/HIGH (doubled totals, batch=2). The read-back rollup
    proves both halves of the contract: untouched priorities still
    carry wave-1 rows exactly (min_batch=max_batch=1), touched ones
    carry ONLY wave-2 (min_batch=max_batch=2 — no leftover wave-1
    files under the replaced prefixes). The oracle reconstructs the
    final state relationally without ever seeing a filesystem.

    Scale: partition-granular replacement means a backfill's write
    cost is proportional to the CORRECTED slice, not the table; the
    directory-partitioned layout is exactly A7/B3's, so partition
    pruning on later reads is unchanged. Option scoped to the write
    (no session conf at all, so no ``session.scoped`` needed)."""
    tbl = fresh_scratch("q_b144", sf_tag(sf_dir), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    o.withColumn("batch", F.lit(1)).write.partitionBy(
        "o_orderpriority"
    ).parquet(tbl)
    wave2 = (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("batch", F.lit(2))
    )
    wave2.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderpriority").parquet(tbl)
    return (
        read_back(spark, tbl, wave2.schema, ["o_orderpriority"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total_price"),
            F.min("batch").cast("int").alias("min_batch"),
            F.max("batch").cast("int").alias("max_batch"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_b145_ignore_missing_files",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS total_price
    FROM orders
    WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b145_ignore_missing_files(spark, sf_dir):
    """B145: MISSING-file resilience — the third rung of the
    file-level resilience ladder (B75 = corrupt file skipped, B82 =
    corrupt value nulled; this = file DELETED between listing and
    read, the landing-prefix race every retention job loses at
    100 TB). `ignoreMissingFiles=true` turns the mid-scan
    FileNotFoundException into a skip: the query completes over the
    surviving files instead of failing an hours-long job because a
    lifecycle rule collected one input.

    The scenario pins the race deterministically: orders written
    partitioned by priority, the DataFrame DEFINED over the prefix
    (listing captured), then the 1-URGENT partition's data file
    deleted from under it before the action runs. The read option is
    scoped to this reader (no session conf); the oracle is
    simply the batch answer minus the vanished slice — which is the
    CONTRACT: skipped means cleanly absent, not partially read, not
    duplicated, not fatal.

    At 100 TB the same option also covers FileScan replay after AQE
    stage retries; the failure mode it guards is listing-vs-read
    skew, which grows with prefix size and job duration."""
    import glob
    import os

    tbl = fresh_scratch("q_b145", sf_tag(sf_dir), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    o.write.partitionBy("o_orderpriority").parquet(tbl)
    # The written data columns; o_orderpriority is typed from the
    # directory names, as in parquet_io.read_back.
    reader = (
        spark.read.option("ignoreMissingFiles", "true")
        .schema(o.drop("o_orderpriority").schema)
        .parquet(tbl)
    )
    for f in glob.glob(
        os.path.join(tbl, "o_orderpriority=1-URGENT", "*.parquet")
    ):
        os.remove(f)
    return (
        reader.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_b152_insert_by_name",
    oracle="""
    SELECT o_orderkey AS k,
           o_totalprice AS price,
           o_orderpriority AS prio
    FROM orders WHERE o_orderkey < 200
    UNION ALL
    SELECT o_orderkey + 1000000 AS k,
           o_totalprice * 2 AS price,
           o_orderpriority AS prio
    FROM orders WHERE o_orderkey < 100
    ORDER BY k
    """,
)
def q_b152_insert_by_name(spark, sf_dir):
    """B152: `INSERT INTO ... BY NAME` — column binding by NAME
    instead of position, the schema-evolution-safe insert (Spark
    3.5 SQL). Positional INSERT is the silent-corruption classic: a
    producer reorders its SELECT (or the table gains a column) and
    values land in the wrong columns while types happen to line up;
    BY NAME binds each source column to the target column of the
    same name regardless of order. The scenario proves exactly the
    failure case: the second wave's SELECT emits (prio, k, price) —
    a completely different order than the table — and BY NAME still
    lands every value correctly, which the relational oracle (that
    never sees a table at all) confirms value-for-value.

    Completes the gateway-write ladder: B137 binds DEFAULTs for
    UNNAMED columns, B87/B72 merge rows, this binds NAMED columns
    under reordering — the three evolution hazards of text-SQL
    ingest. Scale: metastore insert into the warehouse table, same
    append path as B61's."""
    tag = sf_tag(sf_dir)
    tbl = f"wh_b152_orders_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    o = load_table(spark, sf_dir, "orders")
    o.where(F.col("o_orderkey") < 200).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("prio"),
    ).write.format("parquet").option(
        "path", scratch_path("q_b152", tag, "tbl")
    ).mode("overwrite").saveAsTable(tbl)
    o.where(F.col("o_orderkey") < 100).createOrReplaceTempView(
        "b152_wave2"
    )
    spark.sql(
        f"""
        INSERT INTO {tbl} BY NAME
        SELECT o_orderpriority AS prio,
               o_orderkey + 1000000 AS k,
               o_totalprice * 2 AS price
        FROM b152_wave2
        """
    )
    return spark.table(tbl).orderBy("k")


def avro_available() -> bool:
    """Automated availability probe for B153 (Avro landing source).

    Avro is the one row-format of the common lake trio
    (parquet A1/B92, ORC B92, Avro) whose Spark reader ships as the
    EXTERNAL ``spark-avro`` module (reference addons.tf pins the same
    trio through Glue crawlers) — the JVM-side datasource jar
    (``spark-avro_2.13-*.jar``) is not in this container's pyspark
    distribution and cannot be downloaded here. Probe the jars dir
    each session, exactly as ``stream_queries.tws_available()`` probes
    ``google.protobuf`` for B96: the day the environment gains the
    package, q_b153 self-registers below with no code change.
    tests/test_plans.py records the probe outcome either way."""
    from pathlib import Path

    import pyspark

    jars = Path(pyspark.__file__).resolve().parent / "jars"
    return any(jars.glob("spark-avro_*.jar"))


if avro_available():

    @query(
        "q_b153_avro_source",
        oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                    AS BIGINT) AS total_cents
        FROM orders
        WHERE o_totalprice > 100000
        GROUP BY o_orderpriority
        """,
    )
    def q_b153_avro_source(spark, sf_dir):
        """B153: Avro landing/interchange source — B92's shape on the
        row-oriented member of the lake trio: orders staged as Avro
        (the Kafka/schema-registry interchange format) and read back
        through ``spark.read.format("avro")``. Unlike parquet/ORC,
        Avro is row-major: no min-max pushdown exists, so the filter
        runs post-scan and the win Spark CAN take is schema
        projection (the reader deserializes only requested fields).
        Aggregation in exact integer cents (B92's discipline).

        Scale: Avro is the LANDING format, not the lake format — the
        engine's contract is parse-once into columnar (B89/B80/B93's
        path); this operator is the compatibility read that feeds
        that conversion."""
        tag = sf_tag(sf_dir)
        landing = scratch_path("q_b153", tag, "avro")
        fp = _fixture_fingerprint(sf_dir, "orders")
        if not _staged(landing, fp):
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority", "o_totalprice"
            ).write.mode("overwrite").format("avro").save(landing)
            _mark_staged(landing, fp)
        back = spark.read.format("avro").load(landing).filter(
            F.col("o_totalprice") > 100000
        )
        return back.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long")
            .alias("total_cents"),
        )


@query(
    "q_b167_multi_insert_fanout",
    oracle="""
    SELECT 'hot' AS route, o_orderkey, o_orderpriority,
           ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_totalprice > 250000
    UNION ALL
    SELECT 'urgent' AS route, o_orderkey, o_orderpriority,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice <= 250000
    ORDER BY route, o_orderkey
    """,
)
def q_b167_multi_insert_fanout(spark, sf_dir):
    """B167: multi-INSERT fan-out (`FROM src INSERT ... INSERT ...`) —
    the HiveQL one-scan-many-sinks statement: a single pass over the
    source routes rows into multiple tables by predicate. The ETL
    alternative is N independent INSERT statements = N scans of a
    100 TB source; multi-insert is the text-SQL spelling of the
    one-pass router (the DataFrame form needs foreachBatch or persist
    + two writes — B72's machinery; here the parser does it).
    Routes are disjoint by construction (price cut, then priority
    among the rest) so the read-back union equals the relational
    union exactly, row-for-row.

    Scale: ONE scan feeds both inserts; each predicate applies
    map-side; each sink is an independent parquet append. The plan
    contains a single relation read (the point), two InsertInto
    commands."""
    tag = sf_tag(sf_dir)
    t_hot, t_urg = f"b167_hot_{tag}", f"b167_urgent_{tag}"
    for t in (t_hot, t_urg):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "b167_src"
    )
    # Explicit fresh LOCATIONs: DROP TABLE on an unregistered name
    # leaves a stale warehouse dir behind (new session, old files) and
    # CREATE then fails LOCATION_ALREADY_EXISTS; fresh_scratch wipes.
    loc_hot = fresh_scratch("q_b167", tag, "hot")
    loc_urg = fresh_scratch("q_b167", tag, "urgent")
    spark.sql(
        f"""CREATE TABLE {t_hot}
            (o_orderkey BIGINT, o_orderpriority STRING, price DOUBLE)
            USING parquet LOCATION '{loc_hot}'"""
    )
    spark.sql(
        f"""CREATE TABLE {t_urg}
            (o_orderkey BIGINT, o_orderpriority STRING, price DOUBLE)
            USING parquet LOCATION '{loc_urg}'"""
    )
    spark.sql(
        f"""
        FROM b167_src
        INSERT INTO {t_hot}
          SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2)
          WHERE o_totalprice > 250000
        INSERT INTO {t_urg}
          SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2)
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice <= 250000
        """
    )
    hot = spark.table(t_hot).select(
        F.lit("hot").alias("route"), "o_orderkey", "o_orderpriority",
        F.col("price"),
    )
    urg = spark.table(t_urg).select(
        F.lit("urgent").alias("route"), "o_orderkey", "o_orderpriority",
        F.col("price"),
    )
    return hot.unionByName(urg).orderBy("route", "o_orderkey")


@query(
    "q_b168_recover_partitions",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS invisible_before_repair
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY prio
    """,
)
def q_b168_recover_partitions(spark, sf_dir):
    """B168: MSCK REPAIR TABLE / partition recovery — the lake's
    reconciliation primitive for EXTERNALLY-written partitions. A
    metastore-backed partitioned table only sees partitions the
    metastore KNOWS; files dropped into the directory layout by an
    outside producer (another job, a backfill, a DistCp — exactly
    the reference's crawler-discovers-landing-prefix story,
    addons.tf's Glue crawler) are invisible until repair scans the
    layout and registers what it finds. The query writes every
    partition EXTERNALLY (path write, not INSERT), pins the
    before-repair count == 0 as an oracle-TRUE boolean (the B19
    self-verifying shape), runs MSCK, and returns per-partition
    counts that must now equal the relational truth.

    Scale: repair cost is a directory LISTING (one level per
    partition column), metadata-only — no data read; at 100 TB the
    alternative (re-crawling content) is why Glue crawlers and MSCK
    exist. Partition pruning over the recovered table is pinned by
    B61's test."""
    tag = sf_tag(sf_dir)
    tbl = f"b168_ext_{tag}"
    loc = fresh_scratch("q_b168", tag, "extdir")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("prio")
    )
    o.write.partitionBy("prio").parquet(loc, mode="overwrite")
    spark.sql(
        f"""CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE)
            USING parquet PARTITIONED BY (prio STRING)
            LOCATION '{loc}'"""
    )
    before = spark.table(tbl).count()
    spark.sql(f"MSCK REPAIR TABLE {tbl}")
    return (
        spark.table(tbl)
        .groupBy("prio")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .select(
            "prio",
            "n_orders",
            F.lit(bool(before == 0)).alias("invisible_before_repair"),
        )
        .orderBy("prio")
    )


@query(
    "q_b173_compression_codec_audit",
    oracle="""
    WITH codecs AS (
      SELECT codec FROM (VALUES ('gzip'), ('snappy'),
                                ('uncompressed'), ('zstd')) AS c(codec)
    ), truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(('0x' || substr(md5(
                    CAST(o_orderkey AS VARCHAR) || chr(31)
                    || o_orderpriority || chr(31)
                    || CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0))
                            AS VARCHAR)), 1, 12))::BIGINT
                  AS DECIMAL(38,0))) AS VARCHAR) AS digest
      FROM orders
    )
    SELECT c.codec, t.n_rows, t.digest, TRUE AS bytes_reported
    FROM codecs c CROSS JOIN truth t
    ORDER BY c.codec
    """,
)
def q_b173_compression_codec_audit(spark, sf_dir):
    """B173: parquet compression-codec round-trip audit — the storage
    knob every lake tunes (snappy default, zstd for cold data, gzip
    for legacy interop, uncompressed for CPU-bound scratch) proven
    CONTENT-NEUTRAL: the table is written once per codec and each
    read-back must carry the identical row count AND the identical
    order-independent content digest (B142's md5-prefix SUM — the
    right equality primitive here precisely because the parquet BYTES
    differ per codec while the content must not). The oracle computes
    the digest once from the source table; every codec row must match
    it — four independent write/read paths converging on one number.

    bytes_reported pins that the on-disk footprint was measured
    (sizes are environment/version-dependent, so the NUMBERS live in
    the plan's narration, not the oracle-checked columns — a codec
    ranking assertion would be flaky by contract, the B146 lesson
    applied in reverse).

    Scale: codec choice changes IO bytes and decode CPU, never plans
    — same vectorized reader, same pushdown. At 100 TB the decision
    is measured $/scan: zstd ~2x smaller than snappy at ~1.5x decode
    cost; this operator is the harness that makes the measurement a
    query."""
    tag = sf_tag(sf_dir)
    sep = F.lit("\x1f")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 100).cast("decimal(38,0)").alias("cents"),
    )
    row = F.concat(
        F.col("o_orderkey").cast("string"), sep,
        F.col("o_orderpriority"), sep,
        F.col("cents").cast("string"),
    )
    digest = (
        F.sum(
            F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast(
                "decimal(38,0)"
            )
        )
        .cast("string")
        .alias("digest")
    )
    out = []
    for codec in ("gzip", "snappy", "uncompressed", "zstd"):
        path = scratch_path("q_b173", tag, codec)
        fp = _fixture_fingerprint(sf_dir, "orders")
        if not _staged(path, fp):
            o.write.mode("overwrite").option(
                "compression", codec
            ).parquet(path)
            _mark_staged(path, fp)
        back = read_back(spark, path, o.schema)
        import os

        n_bytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        out.append(
            back.agg(
                F.count("*").cast("long").alias("n_rows"), digest
            ).select(
                F.lit(codec).alias("codec"),
                "n_rows",
                "digest",
                F.lit(bool(n_bytes > 0)).alias("bytes_reported"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("codec")


@query(
    "q_b175_global_temp_view",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS visible_across_sessions,
           TRUE AS local_view_isolated
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b175_global_temp_view(spark, sf_dir):
    """B175: TEMP VIEW lifecycle — the two scopes and the boundary
    between them, proven by construction: a regular TEMP VIEW lives
    in ONE session's catalog (a ``newSession()`` must NOT see it;
    ``session.scoped`` clones the caller's views on purpose), while a
    GLOBAL TEMP VIEW registers in the shared `global_temp` database
    and IS visible to sibling sessions of the
    same SparkContext (how a notebook gateway or a multi-session
    driver shares a prepared frame without a metastore write). Both
    facts are checked at run time and pinned as oracle-TRUE booleans
    (the B19 self-verifying shape); the data columns come from
    reading the global view FROM THE NEW SESSION, so the hash
    match itself certifies the cross-session read.

    Scale: views are metadata — zero data cost at any scale; the
    operative production distinction is lifetime (session vs
    application) and the global_temp name prefix."""
    tag = sf_tag(sf_dir)
    gv, lv = f"b175_hot_{tag}", f"b175_local_{tag}"
    hot = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    hot.createOrReplaceGlobalTempView(gv)
    hot.createOrReplaceTempView(lv)
    try:
        sess = spark.newSession()
        try:
            sess.table(lv)
            local_isolated = False  # a clone saw a session-local view: bug
        except Exception:
            local_isolated = True
        agg = (
            sess.table(f"global_temp.{gv}")
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_orders"))
        )
        rows = agg.collect()  # materialize in the NEW session
    finally:
        # Global temp views outlive the session (application lifetime,
        # the very property under test) — without the drop, the view
        # leaks into every later query of the bench/driver session
        # (r7 ADVICE). The local view is session-scoped but dropped
        # for symmetry.
        spark.catalog.dropGlobalTempView(gv)
        spark.catalog.dropTempView(lv)
    return (
        values_df(spark, rows, agg.schema)
        .select(
            "o_orderpriority",
            "n_orders",
            F.lit(bool(len(rows) > 0)).alias("visible_across_sessions"),
            F.lit(bool(local_isolated)).alias("local_view_isolated"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_b178_plan_semantics_identity",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS reordered_plan_same,
           TRUE AS hash_matches_same,
           TRUE AS different_filter_detected
    FROM orders WHERE o_totalprice > 150000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b178_plan_semantics_identity(spark, sf_dir):
    """B178: `sameSemantics` / `semanticHash` — plan IDENTITY as an
    API surface. A plan cache, a view deduplicator, or a
    materialization layer (B117's cached-multi-action pattern) must
    decide "is this query the one I already computed?" — and textual
    equality is the wrong test: filter order, alias names, and
    select-list order all vary without changing semantics. Spark
    answers from the canonicalized plan: `df.sameSemantics(other)`
    and the stable `df.semanticHash()`.

    Proven by construction on three plans over orders: (a) the
    aggregate REBUILT from scratch — fresh expression IDs throughout
    and count(*) written as count(lit(1)) — is recognized:
    sameSemantics TRUE, equal semanticHash (expression-id and
    count-form normalization is precisely what textual comparison
    cannot do); (b) the same shape with a different filter constant
    -> sameSemantics FALSE (a cache that returned (a) for (b) would
    be a wrong-results bug). The contract is deliberately
    CONSERVATIVE: canonicalization normalizes ids and trivial forms
    but not structural rewrites (a projection pushed below the
    filter compares unequal) — for a cache that asymmetry is safe,
    a false negative recomputes while a false positive corrupts.
    The verdicts ride as oracle-TRUE booleans on the aggregate's
    real rows (the B19 self-verifying shape — plan identity is
    invisible to SQL).

    Scale: canonicalization is a driver-side tree rewrite —
    milliseconds on any plan, zero executor cost; it is the
    O(1) alternative to recomputing a 100 TB aggregate whose
    result already sits in cache."""
    o = load_table(spark, sf_dir, "orders")
    base = (
        o.filter((F.col("o_totalprice") > 150000))
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    # same semantics: the identical shape REBUILT (fresh expression
    # ids; count(*) spelled count(lit(1)) — analysis normalizes both)
    twin = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    other = (
        o.filter((F.col("o_totalprice") > 160000))
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    same = bool(base.sameSemantics(twin))
    hash_same = base.semanticHash() == twin.semanticHash()
    differs = not base.sameSemantics(other)
    return base.select(
        "o_orderpriority",
        "n_orders",
        F.lit(same).alias("reordered_plan_same"),
        F.lit(hash_same).alias("hash_matches_same"),
        F.lit(differs).alias("different_filter_detected"),
    ).orderBy("o_orderpriority")
