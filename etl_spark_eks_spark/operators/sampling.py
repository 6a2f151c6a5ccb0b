"""Sampling, corpus mixing, shard packing, and decontamination for
LLM-training-data pipelines (SURVEY §2 C22-C25).

These are the corpus-assembly operators that sit downstream of the
dedup/quality ladder (C1-C21): pick a reproducible subset (C22), rebalance
domains to a target mixture (C23), pack the survivors into token-budgeted
shards for the trainer (C24), and hold out anything that overlaps an
evaluation benchmark (C25).

Design rules shared by the family:
- **Determinism over RNG.** Every "random" choice is a pure function of
  the row key (an md5-derived bucket), never ``rand()``: reruns, retried
  tasks, and different engines all agree row-by-row, which is what makes
  the operators oracle-checkable and makes incremental re-ingestion stable
  (a document's keep/drop fate never changes when the corpus around it
  does). ``rand(seed)`` cannot give that: it is seeded per-PARTITION, so
  any repartitioning reshuffles every fate.
- **Per-row, shuffle-free where possible.** C22/C23 are pure
  projection+filter — they pipeline into whatever scan precedes them at
  any scale. The only shuffles in the family are C24's two tiny
  aggregations and C25's semi-join.
- **No trailing global sort.** A corpus-sized output is never orderBy-ed:
  both the driver's value-hash compare and tests/compare.py are
  order-insensitive, so a final sort would buy determinism nobody checks
  at the cost of a full range-partition shuffle (it dominated C23/C24
  runtime when present in round 1). Consumers that need order sort their
  own (usually much smaller) downstream result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table, widen
from etl_spark_eks_spark.functions.exact import dsum, dsum_sql
from etl_spark_eks_spark.functions.text import shingles, tokenize
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.registry import query

# Keep-rate buckets are permille (0-999) carved from the top 32 bits of
# md5(key) — the same expression DuckDB evaluates, so oracles match bit
# for bit: Spark `conv(substr(md5(x),1,8),16,10)` == DuckDB
# `('0x' || substr(md5(x),1,8))::BIGINT`.
_BUCKETS = 1000


def hash_bucket(key, buckets: int = _BUCKETS):
    """Deterministic engine-portable bucket in [0, buckets) from md5 of
    the (stringified) key column."""
    col = key if not isinstance(key, str) else F.col(key)
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
    return h.cast("bigint") % buckets


def _bucket_sql(expr: str, buckets: int = _BUCKETS) -> str:
    return (
        f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {buckets})"
    )


@query(
    "q_c22_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, {_bucket_sql("doc_id")} AS bucket
    FROM documents
    WHERE {_bucket_sql("doc_id")} < 100
    """,
)
def q_c22_hash_sample(spark, sf_dir):
    """C22 (extension): deterministic 10% Bernoulli sample by hash
    bucket. The idiomatic way to sample a 100 TB corpus reproducibly:
    bucket = md5(doc_id) mod 1000, keep bucket < 100. Unlike
    ``df.sample()`` the subset is a pure function of the keys — stable
    under retries, repartitioning, engine changes, and incremental
    appends — and widening the sample to 20% (bucket < 200) is a
    strict SUPERSET of the 10% sample, so experiments nest.

    Scale: per-row projection + filter, zero shuffle; pipelines into
    the scan on every executor."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return (
        d.select("doc_id", "lang", b.alias("bucket"))
        .filter(b < 100)
    )


# Target permille keep-rates per language for the mixture query — the
# kind of rebalancing a multilingual training mix applies (keep all the
# low-resource languages, downsample the dominant one). A literal table
# so the Spark dim and the SQL VALUES stay in sync.
_MIX_RATES = [("en", 400), ("de", 1000), ("es", 1000), ("fr", 1000), ("zh", 700)]
_MIX_DEFAULT = 1000


@query(
    "q_c23_domain_mix",
    oracle=f"""
    SELECT d.doc_id, d.lang, {_bucket_sql("d.doc_id")} AS bucket,
           COALESCE(r.keep_permille, {_MIX_DEFAULT}) AS keep_permille
    FROM documents d
    LEFT JOIN (VALUES {", ".join(f"('{l}', {r})" for l, r in _MIX_RATES)})
           AS r(lang, keep_permille)
      ON d.lang = r.lang
    WHERE {_bucket_sql("d.doc_id")} < COALESCE(r.keep_permille, {_MIX_DEFAULT})
    """,
)
def q_c23_domain_mix(spark, sf_dir):
    """C23 (extension): rebalance the corpus to a target per-domain
    mixture by deterministic downsampling — each language keeps
    ``keep_permille``/1000 of its documents, chosen by the same
    md5-bucket as C22 (so the mixture sample of a language IS the
    hash-sample of that language: the subsets compose).

    Scale: the rate table is a handful of rows — broadcast join, so the
    operator stays a per-row map over the scan with no shuffle of the
    corpus. Unmatched domains default to keep-all rather than silently
    dropping data."""
    d = load_table(spark, sf_dir, "documents")
    rates = values_df(spark, _MIX_RATES, "lang string, keep_permille bigint")
    b = hash_bucket("doc_id")
    return (
        d.join(F.broadcast(rates), "lang", "left")
        .withColumn(
            "keep_permille",
            F.coalesce("keep_permille", F.lit(_MIX_DEFAULT)),
        )
        .filter(b < F.col("keep_permille"))
        .select("doc_id", "lang", b.alias("bucket"), "keep_permille")
    )


_SHARD_BUDGET = 1000  # tokens per shard
_CUMSUM_BUCKET = 100  # doc_ids per prefix-sum bucket


def running_total_before(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    bucket_size: int = _CUMSUM_BUCKET,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distributed two-phase prefix sum: appends ``__cum_before`` =
    SUM(weight) over all rows with a smaller ``id_col`` — WITHOUT the
    single-task global window (`SUM OVER (ORDER BY id)` is ONE task at
    any cluster size). Phase 1 aggregates per-id-range bucket totals
    (map-side combined, tiny table); phase 2 windows the bucket table
    alone for starting offsets, broadcasts them back, and runs the
    within-bucket running sum with a window PARTITIONED by bucket —
    parallel across the cluster. The only serial step is proportional
    to n_rows / bucket_size. Shared by the token packer (C24), the
    media shard assemblers (M3/M5), and the length-banded packer (C45).

    ``partition_cols`` makes the prefix sum per-group (SUM OVER
    (PARTITION BY cols ORDER BY id)) with the same two-phase shape:
    phase-1 buckets key on (cols, bucket), the offset window partitions
    by cols (per-group serial step, still n_group/bucket_size rows),
    and the in-bucket window partitions by (cols, bucket) — a hot
    group never lands on one task."""
    pcols = list(partition_cols)
    b = df.withColumn(
        "__bucket", (F.col(id_col) / bucket_size).cast("bigint")
    )
    per_bucket = b.groupBy(*pcols, "__bucket").agg(
        F.sum(weight_col).alias("__bucket_total")
    )
    w_b = (
        Window.partitionBy(*pcols) if pcols else Window
    ).orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        *pcols,
        "__bucket",
        F.coalesce(F.sum("__bucket_total").over(w_b), F.lit(0)).alias(
            "__offset"
        ),
    )
    w_in = (
        Window.partitionBy(*pcols, "__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), [*pcols, "__bucket"])
        .withColumn(
            "__cum_before",
            F.col("__offset")
            + F.coalesce(F.sum(weight_col).over(w_in), F.lit(0)),
        )
        .drop("__bucket", "__offset")
    )


@query(
    "q_c24_pack_shards",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST(FLOOR(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                      / {_SHARD_BUDGET}) AS BIGINT) AS shard_id
    FROM (SELECT doc_id,
                 len(list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> '')) AS n_tokens
          FROM documents)
    """,
)
def q_c24_pack_shards(spark, sf_dir):
    """C24 (extension): pack documents into token-budgeted shards —
    shard_id = floor(running_token_count_before_me / budget), the
    greedy next-fit packing a trainer's data loader expects
    (doc order preserved, every shard ~budget tokens).

    Scale: the naive form is a single global window (`SUM OVER (ORDER
    BY doc_id)`) — ONE task no matter the cluster size. This
    implementation is a distributed two-phase prefix sum instead:
    (1) bucket docs by doc_id range and aggregate per-bucket token
    totals (tiny table, map-side combined); (2) window the bucket
    table alone to get each bucket's starting offset; (3) broadcast
    the offsets back and compute the within-bucket running sum with a
    window PARTITIONED by bucket — parallel across the cluster. The
    only serial step is the window over the bucket table
    (corpus_size / {_CUMSUM_BUCKET} rows), the classic scan-then-
    propagate prefix-sum shape (running_total_before)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    return running_total_before(toks, "doc_id", "n_tokens").select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("__cum_before").cast("double") / _SHARD_BUDGET)
        .cast("bigint")
        .alias("shard_id"),
    )


@query(
    "q_c25_decontaminate",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '') AS t
            FROM documents)
    ), bench AS (
      SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT c.doc_id, COUNT(DISTINCT x.shingle) AS n_shared
    FROM sh c, unnest(c.s) AS x(shingle)
    JOIN bench b ON x.shingle = b.shingle
    WHERE c.doc_id % 97 <> 0
    GROUP BY c.doc_id
    """,
)
def q_c25_decontaminate(spark, sf_dir):
    """C25 (extension): benchmark decontamination — flag training
    documents that share any 3-token shingle with a held-out benchmark
    set (stand-in: doc_id % 97 == 0), reporting how many distinct
    shingles leak. Downstream, `anti-join on doc_id` removes them;
    this query keeps the evidence so the cut is auditable.

    Scale: the benchmark side is small by construction (eval sets are
    thousands of docs, the corpus is billions) — its distinct shingle
    set broadcasts, so the corpus side stays a map-side explode +
    broadcast-hash semi-probe with ONE shuffle: the per-doc count
    aggregation. The corpus is never self-joined."""
    d = load_table(spark, sf_dir, "documents")
    sh = widen(d).select(
        "doc_id",
        F.array_distinct(shingles(tokenize("text"), 3)).alias("s"),
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode("s").alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


@query(
    "q_c29_content_split",
    oracle=f"""
    SELECT doc_id, {_bucket_sql("sha256(text)")} AS bucket,
           CASE WHEN {_bucket_sql("sha256(text)")} < 900 THEN 'train'
                WHEN {_bucket_sql("sha256(text)")} < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_c29_content_split(spark, sf_dir):
    """C29 (extension): leakage-safe train/val/test split, keyed by
    CONTENT hash rather than doc id — byte-identical documents (the ones
    exact dedup would merge) always land in the same split, so a val
    document can never have a verbatim twin in train no matter how the
    ids were assigned. 90/5/5 via the same md5-permille bucket as C22.

    Scale: pure per-row projection, zero shuffle. For NEAR-duplicate
    safety, compose with C18: key the bucket on the dedup cluster_id
    instead of sha256(text) and the whole near-dup cluster moves as one
    unit — same one-line expression, cluster join paid once upstream."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.sha2(F.col("text"), 256))
    return d.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 900, "train").when(b < 950, "val").otherwise("test")
        .alias("split"),
    )


@query(
    "q_c33_domain_caps",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY md5(text), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q_c33_domain_caps(spark, sf_dir):
    """C33 (extension): per-domain document caps — keep at most K=10
    documents per source, chosen by CONTENT-hash rank, not arrival
    order. The hash ranking makes the kept set a pure function of the
    corpus (stable under re-partitioning, re-ingestion order, and
    incremental appends) — the determinism property C22 establishes for
    row sampling, applied to the per-domain balancing step that stops a
    handful of giant crawl domains from dominating the training mix.

    Scale: rank <= K over a window is executed with WindowGroupLimit
    (asserted in tests/test_plans.py): each task pre-limits its
    partition to K rows per key BEFORE the shuffle, so a domain with
    10M documents moves only ~K x n_input_partitions rows, not 10M.
    Skewed domains are therefore bounded by construction."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    return (
        widen(d)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "rk")
    )


_STRAT_RATE = 0.2
_STRAT_VBUCKETS_SHIFT = 22  # 2^32 hash space >> 22 = 1024 value-range buckets


@query(
    "q_c36_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk, n_lang
    FROM (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY md5(text), doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY lang) AS n_lang
          FROM documents) t
    WHERE rk <= CAST(CEIL({_STRAT_RATE} * n_lang) AS BIGINT)
    """,
)
def q_c36_stratified_sample(spark, sf_dir):
    """C36 (extension): EXACT stratified sampling — exactly
    ceil(20% x n_s) documents per language, chosen by content-hash
    order. C22's Bernoulli bucket gives each stratum ~rate in
    expectation; experiment designs that need exact per-stratum sizes
    (matched eval slices, fixed annotation budgets) need the order
    statistic, and the kept set is still a pure function of the corpus
    (md5 order, doc_id tie-break), not of arrival order or RNG.

    Scale: the naive form — ROW_NUMBER over each stratum — sorts every
    stratum in ONE task (a 60%-English corpus puts 60% of 100 TB
    through a single window partition; the oracle states that form
    because DuckDB only needs to be correct at fixture scale). This
    implementation is a distributed selection instead, the prefix-sum
    shape shared with C24: (1) bucket rows by hash-value range (top 10
    bits, monotone in md5 order); (2) aggregate per-(stratum, bucket)
    counts — a tiny table — and window IT for each bucket's starting
    offset; (3) broadcast offsets back and rank only WITHIN each
    bucket (bounded ~n_s/1024 rows per task), so global rank =
    bucket offset + within-bucket rank. No stratum is ever sorted on
    one task; skew is bounded by the hash, not the language mix."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    base = widen(d).select(
        "doc_id",
        "lang",
        h.alias("__h"),
        F.shiftright(h32, _STRAT_VBUCKETS_SHIFT).alias("__vb"),
    )
    counts = base.groupBy("lang", "__vb").agg(F.count("*").alias("__cnt"))
    w_vb = Window.partitionBy("lang").orderBy("__vb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "lang",
        "__vb",
        F.coalesce(F.sum("__cnt").over(w_vb), F.lit(0)).alias("__before"),
    )
    totals = counts.groupBy("lang").agg(F.sum("__cnt").alias("n_lang"))
    w_in = Window.partitionBy("lang", "__vb").orderBy("__h", "doc_id")
    k = F.ceil(F.lit(_STRAT_RATE) * F.col("n_lang")).cast("bigint")
    return (
        base.join(F.broadcast(offsets), ["lang", "__vb"])
        .join(F.broadcast(totals), "lang")
        .withColumn(
            "rk",
            (F.col("__before") + F.row_number().over(w_in)).cast("int"),
        )
        .filter(F.col("rk") <= k)
        .select("doc_id", "lang", "rk", "n_lang")
    )


@query(
    "q_c40_temperature_mix",
    oracle=f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    ), r AS (
      SELECT lang, n_lang,
             CAST(FLOOR(1000 * sqrt(
               CAST((SELECT MIN(n_lang) FROM c) AS DOUBLE) / n_lang))
               AS BIGINT) AS keep_permille
      FROM c
    )
    SELECT d.doc_id, d.lang, r.n_lang, r.keep_permille,
           {_bucket_sql("d.doc_id")} AS bucket
    FROM documents d JOIN r USING (lang)
    WHERE {_bucket_sql("d.doc_id")} < r.keep_permille
    """,
)
def q_c40_temperature_mix(spark, sf_dir):
    """C40 (extension): temperature-scaled mixture sampling — C23 with
    the rates DERIVED from the corpus instead of hand-written: each
    language keeps fraction (min_n / n_l)^0.5 (temperature alpha=0.5),
    flattening the size distribution — the smallest language keeps
    everything, a 100x-bigger one keeps 10% — the standard multilingual
    rebalance (upweight tail languages without exploding the head).
    Selection reuses C22's md5 bucket, so the kept set nests with the
    global hash sample and is deterministic under retries/repartition.

    The exponent is computed as sqrt(min_n/n_l), NOT pow(x, -0.5):
    IEEE-754 requires sqrt (and division) to be correctly rounded, so
    both engines produce bit-identical fractions and the floor() to
    permille cannot straddle an engine boundary; pow carries no such
    guarantee and a 1-ulp divergence at a .000 boundary would flip a
    whole language's rate.

    Scale: pass 1 is a language-count aggregate (tiny, map-side
    combined); the 1-row min and per-language rates broadcast back, so
    pass 2 stays a per-row map+filter over the scan — zero shuffle of
    the corpus, exactly like C22/C23."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    min_n = counts.agg(F.min("n_lang").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n_lang",
        F.floor(
            1000
            * F.sqrt(F.col("min_n").cast("double") / F.col("n_lang"))
        )
        .cast("bigint")
        .alias("keep_permille"),
    )
    b = hash_bucket("doc_id")
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(b < F.col("keep_permille"))
        .select("doc_id", "lang", "n_lang", "keep_permille", b.alias("bucket"))
    )


@query(
    "q_c45_length_banded_packing",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), banded AS (
      SELECT doc_id, n_tokens,
             CAST(n_tokens // 32 AS BIGINT) AS band
      FROM t
    )
    SELECT doc_id, n_tokens, band,
           CAST(FLOOR(CAST(SUM(n_tokens) OVER (
                  PARTITION BY band ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                / 1000) AS BIGINT) AS shard_id
    FROM banded
    """,
)
def q_c45_length_banded_packing(spark, sf_dir):
    """C45 (extension): length-banded shard packing — documents are
    first banded by length (band = n_tokens // 32, a deterministic
    per-row expression, NOT a global ntile sort) and then packed into
    token-budget shards WITHIN each band. Training dataloaders batch
    same-length documents together to minimize padding waste; this is
    that layout as a corpus operator, composing with C32 chunking
    upstream and replacing C24's single global order with per-band
    orders.

    Scale: the band is a per-row projection (a global ntile would be
    one sorting task — the anti-pattern C36 §sampling avoids); the
    per-band running totals use the SAME two-phase distributed prefix
    sum as C24/M3, now with ``partition_cols`` — phase-1 bucket
    totals key on (band, id-range), the serial offset window runs per
    band over n_band/bucket_size rows, and in-bucket windows
    partition by (band, bucket), so even a band holding half the
    corpus never lands on one task."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "doc_id", F.size(tokenize("text")).alias("n_tokens")
    ).withColumn(
        "band", (F.col("n_tokens") / 32).cast("bigint")
    )
    return running_total_before(
        toks, "doc_id", "n_tokens", partition_cols=("band",)
    ).select(
        "doc_id",
        "n_tokens",
        "band",
        F.floor(F.col("__cum_before").cast("double") / 1000)
        .cast("bigint")
        .alias("shard_id"),
    )


@query(
    "q_c46_stable_seq_ids",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (
             ORDER BY ('0x' || substr(md5(text || ':' ||
                       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           ) - 1 AS seq_id
    FROM documents
    """,
)
def q_c46_stable_seq_ids(spark, sf_dir):
    """C46: contiguous stable example-ID assignment — every document
    gets a dense sequential id ordered by a content-derived hash key,
    WITHOUT the single-task global window (`ROW_NUMBER() OVER (ORDER BY
    ...)` serializes the whole corpus through one task at any cluster
    size, and `monotonically_increasing_id`/`zipWithIndex` are neither
    dense nor content-stable). Training manifests need exactly this:
    dense ids for shard addressing that do not change when the corpus
    is re-partitioned.

    Shape: the same distributed two-phase prefix sum as the shard
    packers (running_total_before) with weight 1 — the 60-bit md5 key
    space is carved into 256 fixed-width bucket ranges, bucket counts
    aggregate map-side, the offset window runs over 256 rows, and the
    in-bucket ranking parallelizes per bucket. The md5-derived key is
    engine-portable (same bytes in DuckDB), content-stable, and
    uniform — so the fixed-width buckets are balanced by construction.

    Scale: the only serial step is the 256-row offset window; the
    corpus shuffles once, keyed by a uniform hash (no skew possible)."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("text"), F.lit(":"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("__hkey"),
        F.lit(1).alias("__one"),
    )
    ranked = running_total_before(
        keyed, "__hkey", "__one", bucket_size=(1 << 60) // 256
    )
    return ranked.select(
        "doc_id", F.col("__cum_before").cast("bigint").alias("seq_id")
    )


@query(
    "q_c55_ngram_contamination",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 97 = 0 AND doc_id <= 194
    ), t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM corpus
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 4, 0) + 1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])
             ))) AS s
      FROM t
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(bench.s) AS n_hit,
           ROUND(CAST(COUNT(bench.s) AS DOUBLE) / COUNT(*), 6) AS overlap,
           (CAST(COUNT(bench.s) AS DOUBLE) / COUNT(*) >= 0.5)
             AS contaminated
    FROM sh LEFT JOIN bench ON sh.s = bench.s
    WHERE sh.doc_id % 97 <> 0
    GROUP BY sh.doc_id
    """,
)
def q_c55_ngram_contamination(spark, sf_dir):
    """C55 (extension): n-gram-level benchmark decontamination — for
    every training candidate, the fraction of its distinct 5-gram
    shingles that appear ANYWHERE in the held-out benchmark slice
    (docs with doc_id % 97 == 0, standing in for an eval set). C25
    removes exact text matches; this is the finer industry-standard
    gate (GPT-3/PaLM-style n-gram overlap): a paraphrased or
    partially-quoted benchmark item still lights up through its
    shared shingles. ``overlap >= 0.5`` marks the doc contaminated;
    the continuous ratio is kept so the threshold is a policy knob,
    not baked in.

    The fixture's word-soup corpus contains no genuinely
    benchmark-derived candidates (measured max natural 5-gram overlap
    0.018), so the query plants 3 verbatim copies of benchmark docs
    (doc_id + 2,000,000 of ids 0/97/194 — offset ids fall outside
    the % 97 == 0 benchmark slice) to exercise the positive path:
    those three MUST report overlap 1.0 / contaminated true, every
    natural doc near 0. The B69/C15 fabricate-then-audit pattern.

    Spark side shingles via the injective xxhash64 ladder (C50's
    trick); the oracle uses string shingles — counts and ratios are
    preserved under injectivity.

    Scale: the benchmark shingle set is eval-set-sized (KB-MB) —
    broadcast to the candidate shingle stream, so the corpus never
    shuffles for the membership test; the only corpus-keyed exchange
    is the per-doc re-aggregation. A benchmark too large to
    broadcast degrades to a shuffle join on the shingle key — same
    plan shape, one hint removed."""
    from etl_spark_eks_spark.functions.text import (
        ordered_token_hashes,
        shingle_hashes,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") <= 194)
    ).select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    corpus = d.unionByName(planted)
    toks = widen(corpus).select(
        "doc_id", ordered_token_hashes(tokenize("text")).alias("th")
    )
    sh = toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingle_hashes("th", 5))).alias("sh"),
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("sh").alias("bsh"))
        .distinct()
    )
    cand = sh.filter(F.col("doc_id") % 97 != 0)
    hits = F.count("bsh")
    ratio = hits.cast("double") / F.count("*")
    return (
        cand.join(
            F.broadcast(bench), cand["sh"] == bench["bsh"], "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            hits.alias("n_hit"),
            F.round(ratio, 6).alias("overlap"),
            (ratio >= 0.5).alias("contaminated"),
        )
    )


@query(
    "q_c56_quota_sample",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q_c56_quota_sample(spark, sf_dir):
    """C56 (extension): deterministic EXACT-k-per-group sampling — the
    10 documents per source with the smallest content-independent hash
    priority (md5 of the id), i.e. reservoir sampling's fixed-quota
    guarantee without reservoir state. C36 (stratified) keeps a RATE
    per stratum, so group sample sizes float with group sizes; eval-set
    construction, per-domain spot-check queues, and labeling budgets
    need the QUOTA form: exactly k rows per group, stable across
    reruns and engines because the priority is a pure function of the
    key (the family's no-RNG rule).

    Scale: one shuffle on the group key; the rank<=10 filter executes
    as WindowGroupLimit, so each task keeps a 10-row heap per group
    during the sort rather than ranking the full partition (pinned by
    plan test). Hash-priority ordering is equivalent to a uniform
    draw; swapping md5(id) for md5(content) makes the quota stable
    under re-ingestion dedup churn as well."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        widen(d)
        .select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )


@query(
    "q_c59_split_divergence",
    oracle=rf"""
    WITH s AS (
      SELECT CASE WHEN {_bucket_sql("sha256(text)")} < 900 THEN 'train'
                  WHEN {_bucket_sql("sha256(text)")} < 950 THEN 'val'
             END AS split,
             text
      FROM documents
    ), tok AS (
      SELECT split,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS token
      FROM s WHERE split IS NOT NULL
    ), c AS (
      SELECT split, token, COUNT(*) AS n FROM tok GROUP BY split, token
    ), m AS (
      SELECT token,
             CAST(COALESCE(SUM(CASE WHEN split = 'train' THEN n END), 0)
                  AS DOUBLE) AS n_train,
             CAST(COALESCE(SUM(CASE WHEN split = 'val' THEN n END), 0)
                  AS DOUBLE) AS n_val
      FROM c GROUP BY token
    ), tot AS (
      SELECT SUM(n_train) AS t_train, SUM(n_val) AS t_val FROM m
    ), contrib AS (
      SELECT token,
             m.n_train / tot.t_train AS p,
             m.n_val / tot.t_val AS q,
             (CASE WHEN m.n_train > 0
                   THEN 0.5 * (m.n_train / tot.t_train)
                        * log2((m.n_train / tot.t_train)
                               / (((m.n_train / tot.t_train)
                                   + (m.n_val / tot.t_val)) / 2))
                   ELSE 0 END
              + CASE WHEN m.n_val > 0
                     THEN 0.5 * (m.n_val / tot.t_val)
                          * log2((m.n_val / tot.t_val)
                                 / (((m.n_train / tot.t_train)
                                     + (m.n_val / tot.t_val)) / 2))
                     ELSE 0 END) AS contribution
      FROM m, tot
    ), j AS (
      SELECT SUM(contribution) AS jsd FROM contrib
    ), ranked AS (
      SELECT token, p, q, contribution,
             ROW_NUMBER() OVER (ORDER BY contribution DESC, token) AS rk
      FROM contrib
    )
    SELECT token,
           ROUND(p, 6) AS p_train,
           ROUND(q, 6) AS p_val,
           ROUND(contribution, 6) AS contribution,
           CAST(rk AS INTEGER) AS rk,
           ROUND(j.jsd, 6) AS corpus_jsd
    FROM ranked, j WHERE rk <= 10
    """,
)
def q_c59_split_divergence(spark, sf_dir):
    """C59 (extension): train/val distribution-divergence audit — the
    Jensen-Shannon divergence between the token distributions of
    C29's content-keyed train and val splits, plus the 10 tokens
    contributing most. A content-hash split GUARANTEES no leakage
    (C29) but not representativeness: a val set that drifted (one
    domain over-represented, vocabulary skew) invalidates eval
    numbers silently, and JSD-near-zero with no dominant contributor
    is exactly the certificate that the split is i.i.d.-like. The
    top-contributor column turns a red flag into a diagnosis (WHICH
    token/domain drifted).

    Scale: one token-count shuffle keyed (split, token) — the
    corpus's only data-sized exchange — then vocabulary-bounded
    arithmetic: the totals and the JSD are 1-row aggregates broadcast
    back (the C7/C26 scalar pattern), and the top-10 rank window runs
    on the vocab table (single-partition but vocab-bounded, the C38
    normalization caveat). Per-token contributions are identical
    per-row IEEE expressions in both engines, so the ranking is
    deterministic; only the two SUM-reductions (totals, JSD) are
    order-sensitive and ROUND(6)."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.sha2(F.col("text"), 256))
    split = F.when(b < 900, "train").when(b < 950, "val")
    tok = (
        widen(d)
        .select(split.alias("split"), F.explode(tokenize("text")).alias("token"))
        .filter(F.col("split").isNotNull())
    )
    c = tok.groupBy("split", "token").agg(F.count("*").alias("n"))
    m = c.groupBy("token").agg(
        F.coalesce(
            F.sum(F.when(F.col("split") == "train", F.col("n"))), F.lit(0)
        ).cast("double").alias("n_train"),
        F.coalesce(
            F.sum(F.when(F.col("split") == "val", F.col("n"))), F.lit(0)
        ).cast("double").alias("n_val"),
    )
    tot = m.agg(
        F.sum("n_train").alias("t_train"), F.sum("n_val").alias("t_val")
    )
    p = F.col("n_train") / F.col("t_train")
    q = F.col("n_val") / F.col("t_val")
    mid = (p + q) / 2
    contribution = (
        F.when(F.col("n_train") > 0, 0.5 * p * F.log2(p / mid)).otherwise(0.0)
        + F.when(F.col("n_val") > 0, 0.5 * q * F.log2(q / mid)).otherwise(0.0)
    )
    contrib = m.crossJoin(F.broadcast(tot)).select(
        "token", p.alias("p"), q.alias("q"),
        contribution.alias("contribution"),
    )
    j = contrib.agg(F.sum("contribution").alias("jsd"))
    w = Window.orderBy(F.col("contribution").desc(), "token")
    return (
        contrib.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .crossJoin(F.broadcast(j))
        .select(
            "token",
            F.round("p", 6).alias("p_train"),
            F.round("q", 6).alias("p_val"),
            F.round("contribution", 6).alias("contribution"),
            "rk",
            F.round("jsd", 6).alias("corpus_jsd"),
        )
    )


@query(
    "q_c63_k_anonymity",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 251 = 0 THEN 'rare' ELSE lang END AS lang,
             source
      FROM documents
    ),
    cells AS (
      SELECT lang, source, COUNT(*) AS n_docs
      FROM seeded GROUP BY lang, source
    ),
    lang_totals AS (
      SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_docs
      FROM cells GROUP BY lang
    )
    SELECT c.lang, c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
           l.lang_docs,
           CASE WHEN c.n_docs >= 10 THEN 'exact'
                WHEN l.lang_docs >= 10 THEN 'generalized'
                ELSE 'suppressed' END AS release_level
    FROM cells c JOIN lang_totals l USING (lang)
    """,
)
def q_c63_k_anonymity(spark, sf_dir):
    """C63 (extension): k-anonymity small-cell release audit (k=10)
    over the (lang, source) quasi-identifier — the privacy gate a
    corpus-stats export needs before publication: cells with fewer
    than k members re-identify contributors, so each cell is either
    released exactly (n >= k), GENERALIZED up the hierarchy to its
    lang rollup (cell < k but the lang total >= k), or suppressed
    outright (even the rollup is small). The fixture's (lang, source)
    grid has natural 1-2 doc cells, and a planted rare lang (every
    251st doc — fabricate-then-audit) keeps the suppressed tier
    non-vacuous.

    Scale: two map-side-combined aggregations (cell counts, then a
    lang rollup OVER THE CELL TABLE — cells-count rows, never a
    second corpus pass) and one broadcast-sized join; the corpus
    shuffles once, on (lang, source). The k threshold and hierarchy
    column are the only policy knobs; swapping in a finer
    quasi-identifier (e.g. + date) changes the group key, not the
    plan."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 251 == 0, F.lit("rare"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
    )
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    lang_totals = cells.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("lang_docs")
    )
    return (
        cells.join(F.broadcast(lang_totals), "lang")
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "lang_docs",
            F.when(F.col("n_docs") >= 10, F.lit("exact"))
            .when(F.col("lang_docs") >= 10, F.lit("generalized"))
            .otherwise(F.lit("suppressed"))
            .alias("release_level"),
        )
    )


@query(
    "q_c68_curriculum_phases",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens,
             ROUND(CAST(len(list_distinct(list_filter(
                     string_split_regex(text, '\s+'), x -> x <> '')))
                   AS DOUBLE)
                   / len(list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '')), 6) AS quality
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, n_tokens, quality,
             CAST(1000000 - ROUND(quality * 1000000) AS BIGINT)
               * 1000000000000 + doc_id AS sort_key
      FROM q
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY sort_key ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS DOUBLE) / 20000) AS BIGINT)
             AS phase
    FROM keyed
    """,
)
def q_c68_curriculum_phases(spark, sf_dir):
    """C68 (extension): quality-ordered curriculum phases — rank the
    corpus by C10's distinct-token quality ratio (best first), then
    cut it into fixed token budgets (20k tokens/phase): phase 0 is
    the highest-quality first budget, later phases are progressively
    noisier. This is the data-side half of curriculum training /
    quality-annealed pretraining (clean data early or late, by
    schedule): the trainer consumes phases in order, and because
    phase assignment is a pure function of (quality, doc_id) it is
    reproducible and incrementally recomputable.

    The global quality ORDER would naively be a full sort + one-task
    running sum; instead the quality is quantized into a bigint sort
    key ((1e6 − round(q·1e6)) · 1e12 + doc_id — quality desc, doc_id
    tiebreak, collision-free while doc_id < 1e12) and fed to the
    SHARED two-phase distributed prefix sum (running_total_before —
    C24/C45/M3/M10's machinery) with bucket_size=1e12, so the bucket
    IS the quality rank: a dense key whose non-empty-bucket count is
    bounded by the 1e6+1 quantization levels, independent of n. The
    serial offset window is therefore <= 1e6+1 rows at any corpus
    size; the residual skew knob is a HOT quality level (many docs
    sharing one rounded ratio serialize inside that bucket's window —
    quantize finer if a level exceeds the per-task budget). No global
    sort ever materializes. The quantization is also why the
    SQL oracle (a plain single-node window) agrees: the rounded
    6dp ratio maps to the identical integer key on both engines.

    Scale: one aggregation-free projection computes (quality, key),
    then the prefix sum's two tiny shuffles; the budget knob moves
    phase boundaries without replanning. Swapping the ranking column
    (C49 prob, C52 perplexity) changes one expression — the C58
    lesson applies here too."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    q = widen(d).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("quality"),
    )
    # Stride 1e12 (precondition doc_id < 1e12; max key ~1.000001e18 fits
    # bigint). bucket_size=1e12 => bucket == quality rank, a DENSE key:
    # the serial offset window is bounded by the 1e6+1 quantization
    # levels, not by n (the old sort_key/100 bucketing was one bucket
    # per doc because the stride dwarfed the bucket width).
    keyed = q.withColumn(
        "sort_key",
        (F.lit(1_000_000) - F.round(F.col("quality") * 1_000_000)).cast(
            "bigint"
        )
        * 1_000_000_000_000
        + F.col("doc_id"),
    )
    return running_total_before(
        keyed, "sort_key", "n_tokens", bucket_size=1_000_000_000_000
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality",
        F.floor(F.col("__cum_before").cast("double") / 20_000)
        .cast("bigint")
        .alias("phase"),
    )


@query(
    "q_c69_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  + 1) / 4294967296.0) / n_chars AS r
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(r * 1000000, 6) AS key_e6
    FROM keyed
    ORDER BY r, doc_id
    LIMIT 100
    """,
)
def q_c69_weighted_reservoir(spark, sf_dir):
    """C69 (extension): weight-proportional sampling WITHOUT
    replacement — Efraimidis-Spirakis A-ES: every doc gets key
    r = -ln(u)/w with u a DETERMINISTIC uniform minted from md5(doc_id)
    (C22's engine-portable hash discipline) and w = n_chars; the k
    smallest keys ARE a weighted sample without replacement. The
    training-mix primitive C40's temperature sampling can't give you:
    C40 keeps a RATE per group, this draws an exact-size sample where
    a doc's inclusion probability is proportional to its length —
    "sample 100 docs by token mass" — and, being a pure function of
    the keys, it is reproducible across engines, retries, and appends
    (new docs re-rank but never reshuffle the hash stream).

    Scale: one pass, no shuffle of the corpus — ORDER BY r LIMIT k
    plans as TakeOrderedAndProject: each partition keeps a k-sized
    heap and the driver merges p*k rows. The classic distributed
    weighted-reservoir; at any corpus size the serial work is k log k.
    The md5->uniform is u in (0,1] (the +1 dodges ln(0)); cross-engine
    float risk is confined to libm ln ulps, handled by emitting the
    key scaled+rounded and tie-breaking the order by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(4294967296.0)
    r = -F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            r.alias("r"),
        )
        .orderBy("r", "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("r") * 1_000_000, 6).alias("key_e6"),
        )
    )


_INTERLEAVE_WEIGHTS = (("src0", 4.0), ("src1", 2.0), ("src2", 1.0), ("src3", 0.5))
_INTERLEAVE_DEFAULT = 1.0


@query(
    "q_c70_interleave_curriculum",
    oracle=f"""
    WITH w AS (
      SELECT d.doc_id, d.source,
             COALESCE(r.wt, {_INTERLEAVE_DEFAULT}) AS wt,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY d.doc_id) AS src_rank
      FROM documents d
      LEFT JOIN (VALUES {", ".join(f"('{s}', {w})" for s, w in _INTERLEAVE_WEIGHTS)})
             AS r(source, wt)
        ON d.source = r.source
    )
    SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
           ROUND((src_rank - 0.5) / wt, 6) AS pos
    FROM w
    """,
)
def q_c70_interleave_curriculum(spark, sf_dir):
    """C70 (extension): deterministic weighted interleave — assign every
    doc a global STRIDE position pos = (rank_within_source - 0.5)/weight
    so that reading the corpus in pos order interleaves sources at the
    target ratio in EVERY prefix (weight 4 : 2 : 1 means any window of
    the stream holds ~4 cc docs per 2 wiki per 1 books). This is the
    smooth weighted round-robin a training dataloader wants: epoch
    order is reproducible, ratio drift over any prefix is bounded by
    one doc per source (the property test pins it), and changing the
    mix changes ONE constant. C23 decides WHAT to keep; this decides
    the ORDER it's consumed in.

    Scale: the only non-map work is one rank window PARTITIONED BY
    source — no global window, no shuffle beyond the per-source
    exchange; pos itself is the sort key for the downstream writer
    (C35's sorted layout), so the global order materializes only as
    a range-partitioned write, never a single-task sort."""
    d = load_table(spark, sf_dir, "documents")
    rates = values_df(
        spark, list(_INTERLEAVE_WEIGHTS), "source string, wt double"
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.join(F.broadcast(rates), "source", "left")
        .withColumn("wt", F.coalesce("wt", F.lit(_INTERLEAVE_DEFAULT)))
        .withColumn("src_rank", F.row_number().over(w).cast("long"))
        .select(
            "doc_id",
            "source",
            "src_rank",
            F.round((F.col("src_rank") - 0.5) / F.col("wt"), 6).alias("pos"),
        )
    )


@query(
    "q_c76_epoch_upsample",
    oracle=f"""
    WITH stats AS (
        SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS lang_chars
        FROM documents GROUP BY lang
    ), budget AS (
        SELECT MAX(lang_chars) AS target FROM stats
    ), rates AS (
        SELECT s.lang,
               CAST(b.target AS DOUBLE) / s.lang_chars AS epochs
        FROM stats s CROSS JOIN budget b
    )
    SELECT d.doc_id, d.lang, r.repeat_idx,
           ROUND(rr.epochs, 6) AS epochs
    FROM documents d
    JOIN rates rr USING (lang),
         UNNEST(range(0, CAST(CEIL(rr.epochs) AS BIGINT))) AS r(repeat_idx)
    WHERE r.repeat_idx < FLOOR(rr.epochs)
       OR (r.repeat_idx = FLOOR(rr.epochs)
           AND {_bucket_sql("d.doc_id * 1000 + r.repeat_idx")}
               < CAST(FLOOR(1000 * (rr.epochs - FLOOR(rr.epochs)))
                      AS BIGINT))
    ORDER BY d.doc_id, r.repeat_idx
    """,
)
def q_c76_epoch_upsample(spark, sf_dir):
    """C76 (extension): epoch-aware UP-sampling to a per-language token
    budget — the other half of C23/C40's down-sampling story. When a
    mixture calls for more of a language than the corpus holds, the
    dataloader repeats it: every language is raised to the LARGEST
    language's character budget, each doc emitted floor(epochs) times
    plus one fractional epoch selected by the C22 permille bucket of
    (doc_id, repeat_idx) — so the fractional pass picks a reproducible
    subset, disjoint decisions per repeat, stable under reruns and
    appends. Output is the materialized replication plan (doc_id,
    repeat_idx): exactly what a training manifest consumes, and the
    value hash pins every per-doc keep/drop decision at the fractional
    boundary.

    Shape: one map-side-combined stats agg (5 rows) → broadcast rates
    join → explode(sequence(0, ceil(epochs)-1)) with the bucket filter
    fused into the generator output — zero corpus shuffle; rows out ≈
    corpus × mean epochs.

    Scale: the corpus is touched once and never exchanged; the only
    aggregate is language-cardinality-sized. The documented hazard is
    DEGENERATE BUDGETS — one language 1000× smaller than the largest
    explodes 1000 repeat rows per doc; production caps epochs (the
    D4/DoReMi guidance caps ~4-5 epochs before repetition hurts), and
    the cap is one LEAST() on the rate table, not a plan change."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.sum("n_chars").alias("lang_chars"))
    budget = stats.agg(F.max("lang_chars").alias("target"))
    rates = stats.crossJoin(F.broadcast(budget)).select(
        "lang",
        (F.col("target").cast("double") / F.col("lang_chars")).alias("epochs"),
    )
    rep = (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .withColumn(
            "repeat_idx",
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil("epochs").cast("long") - 1, F.lit(1)
                )
            ),
        )
    )
    # floor BEFORE the integer cast on both sides: DuckDB's
    # double->BIGINT CAST rounds-to-nearest while Spark's truncates —
    # measured as a one-row divergence at a .6 permille boundary.
    frac_keep = hash_bucket(
        F.col("doc_id") * 1000 + F.col("repeat_idx")
    ) < F.floor(1000 * (F.col("epochs") - F.floor("epochs"))).cast("long")
    return (
        rep.filter(
            (F.col("repeat_idx") < F.floor("epochs")) | frac_keep
        )
        .select(
            "doc_id",
            "lang",
            "repeat_idx",
            F.round("epochs", 6).alias("epochs"),
        )
        .orderBy("doc_id", "repeat_idx")
    )


@query(
    "q_c84_token_budget_waterfill",
    oracle=r"""
    WITH sup AS (
      SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS supply
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(supply) AS BIGINT) AS ts,
             CAST(COUNT(*) AS BIGINT) AS n FROM sup
    ), ranked AS (
      SELECT lang, supply, 2 * supply AS cap,
             (ts * 8) // 5 AS budget, n,
             ROW_NUMBER() OVER (ORDER BY 2 * supply, lang) AS rn,
             COALESCE(SUM(2 * supply) OVER (
               ORDER BY 2 * supply, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM sup, tot
    ), cand AS (
      SELECT *, (budget - cum_before) // (n - rn + 1) AS t_cand
      FROM ranked
    ), fill AS (
      SELECT MIN(rn) AS k, MIN_BY(t_cand, rn) AS t_star
      FROM cand WHERE t_cand <= cap
    )
    SELECT lang, supply, CAST(cap AS BIGINT) AS cap,
           CAST(CASE WHEN k IS NULL OR rn < k THEN cap ELSE t_star END
                AS BIGINT) AS alloc,
           ROUND(CAST(CASE WHEN k IS NULL OR rn < k THEN cap ELSE t_star
                      END AS DOUBLE) / supply, 6) AS epochs
    FROM cand, fill ORDER BY lang
    """,
)
def q_c84_token_budget_waterfill(spark, sf_dir):
    """C84 (extension): token-budget WATERFILL allocation — split a
    total training budget (1.6x the corpus supply here, i.e. some
    languages must repeat) across languages under a 2-epoch cap per
    language: every language gets min(cap, T) tokens where the fill
    level T exhausts the budget. This is the constrained version of
    C40's temperature mix / C76's upsampling: those set RATES, this
    solves the allocation a trainer actually runs when the budget and
    the repetition ceiling bind at once (Muennighoff et al.'s
    data-constrained scaling regime: ~2-4 epochs is where repeated
    tokens stop paying).

    The classic waterfill solve is a sort + scan; here it is the
    closed form over the LANGUAGE table: rank languages by cap, and
    the fill level is the first rank whose candidate share
    (budget - caps_below) DIV (langs_remaining) fits under its own
    cap. Every step is INTEGER arithmetic (floor division on
    positive operands — identical in Spark's DIV and DuckDB's //),
    so both engines agree exactly; the unallocated remainder from
    flooring is reported by conservation tests, not silently spread.

    Scale: the corpus contributes ONE map-side-combined aggregation
    (per-language token supply); everything after runs on the
    |languages|-row table — the global rank window there is
    langs-sized by construction (same class as C40's rate table)."""
    d = load_table(spark, sf_dir, "documents")
    sup = (
        widen(d)
        .select("lang", F.size(tokenize("text")).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("bigint").alias("supply"))
    )
    tot = sup.agg(
        F.sum("supply").cast("bigint").alias("ts"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = Window.orderBy("cap", "lang")
    ranked = (
        sup.crossJoin(F.broadcast(tot))
        .withColumn("cap", F.lit(2) * F.col("supply"))
        .withColumn("budget", F.expr("(ts * 8) DIV 5"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    cand = ranked.withColumn(
        "t_cand", F.expr("(budget - cum_before) DIV (n - rn + 1)")
    )
    fill = cand.filter(F.col("t_cand") <= F.col("cap")).agg(
        F.min("rn").alias("k"),
        F.min_by("t_cand", "rn").alias("t_star"),
    )
    alloc = F.when(
        F.col("k").isNull() | (F.col("rn") < F.col("k")), F.col("cap")
    ).otherwise(F.col("t_star"))
    return (
        cand.crossJoin(F.broadcast(fill))
        .select(
            "lang",
            "supply",
            F.col("cap").cast("bigint").alias("cap"),
            alloc.cast("bigint").alias("alloc"),
            F.round(
                alloc.cast("double") / F.col("supply"), 6
            ).alias("epochs"),
        )
        .orderBy("lang")
    )


def running_total_before_range(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partitioned prefix sum — the ladder rung BEYOND
    :func:`running_total_before` when the sort key is SPARSE or
    skewed. The bucket-based version needs a dense monotone bucket
    function of the key (C68/C78 derive one from the quality rank);
    when no such function exists — arbitrary bigint keys, hot key
    ranges — ``repartitionByRange`` IS the dense bucketing: Spark
    samples the key distribution and cuts ~equal-population ranges,
    so partition id becomes a dense, monotone, load-balanced bucket
    by construction, at any sparsity.

    Shape: range-repartition + sortWithinPartitions (one corpus
    shuffle, the same count as the window variant), per-partition
    totals (map-side combined, |partitions| rows), the serial offset
    window over that tiny table, broadcast back, then the
    within-partition running sum as a CARRY-FORWARD cumsum inside
    mapInPandas — Arrow-batched, sequential within each partition, so
    the |partition|-sized state is one float and the corpus never
    shuffles again (the window variant pays a second hash exchange
    here).

    Requires unique ``id_col`` values (ties make any running sum
    order-dependent — same precondition as the window variant).
    Output values are a pure function of the data: where the range
    boundaries land affects load balance only, never ``__cum_before``.
    """
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    ranged = (
        df.repartitionByRange(n, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = ranged.groupBy("__pid").agg(
        F.sum(weight_col).alias("__t")
    )
    w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(w), F.lit(0)).alias("__offset"),
    )
    joined = ranged.join(F.broadcast(offsets), "__pid")
    out_fields = [f for f in df.schema.fields]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + ", __cum_before double"
    cols = [f.name for f in out_fields]

    # carry persists across Arrow batches WITHIN a partition (the
    # iterator is sequential per partition); __offset is constant per
    # partition and seeds the carry on the first batch.
    def batches(it):
        carry = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if carry is None:
                carry = float(pdf["__offset"].iloc[0])
            w_vals = pdf[weight_col].astype("float64")
            cum = w_vals.cumsum().shift(fill_value=0.0) + carry
            carry = carry + float(w_vals.sum())
            out = pdf[cols].copy()
            out["__cum_before"] = cum.values
            yield out

    return joined.mapInPandas(batches, schema)


@query(
    "q_c86_range_prefix_sum",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens,
             ROUND(CAST(len(list_distinct(list_filter(
                     string_split_regex(text, '\s+'), x -> x <> '')))
                   AS DOUBLE)
                   / len(list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '')), 6) AS quality
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, n_tokens, quality,
             CAST(1000000 - ROUND(quality * 1000000) AS BIGINT)
               * 1000000000000 + doc_id AS sort_key
      FROM q
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY sort_key ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS DOUBLE) / 20000) AS BIGINT)
             AS phase
    FROM keyed
    """,
)
def q_c86_range_prefix_sum(spark, sf_dir):
    """C86 (extension): C68's curriculum phases computed through the
    RANGE-PARTITIONED prefix sum (running_total_before_range) instead
    of the bucket-function variant — same output, same oracle, but the
    machinery needs NO dense bucket function of the sort key: Spark's
    range partitioner samples the key distribution and cuts
    equal-population partitions, so the serial offset step is
    |partitions| rows and the residual hazard of the bucket variant —
    a HOT quality level serializing one bucket's window — disappears
    (a hot key range just splits across partitions; only genuinely
    EQUAL keys must co-locate, and sort_key is unique by
    construction). The within-partition running sum is a carry-forward
    cumsum in mapInPandas: sequential per partition, one float of
    state, no second corpus exchange.

    The weight column is integer tokens, exactly representable in the
    carry's float64 up to 2^53 — cross-engine identical.

    Scale: one range shuffle (sampled boundaries), one
    |partitions|-row serial window, one Arrow pass. This is the
    prefix-sum shape that survives ANY key distribution at 100 TB;
    C68/C78 keep the all-JVM bucket variant because their quality-rank
    bucket is provably dense — the two variants are property-tested
    equal (tests/test_sampling.py)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    q = widen(d).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("quality"),
    )
    keyed = q.withColumn(
        "sort_key",
        (F.lit(1_000_000) - F.round(F.col("quality") * 1_000_000)).cast(
            "bigint"
        )
        * 1_000_000_000_000
        + F.col("doc_id"),
    )
    return running_total_before_range(
        keyed, "sort_key", "n_tokens"
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality",
        F.floor(F.col("__cum_before") / 20_000)
        .cast("bigint")
        .alias("phase"),
    )


@query(
    "q_c88_shard_mix_audit",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             CAST(FLOOR(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                  / 1000) AS BIGINT) AS shard_id
      FROM t
    ), c AS (
      SELECT shard_id, lang, COUNT(*) AS cnt FROM s GROUP BY shard_id, lang
    ), withtot AS (
      SELECT shard_id, lang, cnt,
             SUM(cnt) OVER (PARTITION BY shard_id) AS nd
      FROM c
    ), tot AS (
      SELECT shard_id, CAST(MAX(nd) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             ROUND(-SUM((CAST(cnt AS DOUBLE) / nd)
                        * log2(CAST(cnt AS DOUBLE) / nd)), 6)
               AS lang_entropy
      FROM withtot GROUP BY shard_id
    ), top AS (
      SELECT shard_id, lang AS top_lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY shard_id
                                ORDER BY cnt DESC, lang DESC) AS rn
      FROM c
    )
    SELECT tot.shard_id, n_docs, n_langs, lang_entropy,
           top.top_lang,
           ROUND(CAST(top.cnt AS DOUBLE) / n_docs, 6) AS top_share
    FROM tot JOIN top ON top.shard_id = tot.shard_id AND top.rn = 1
    ORDER BY tot.shard_id
    """,
)
def q_c88_shard_mix_audit(spark, sf_dir):
    """C88 (extension): BATCH-COMPOSITION audit of the packed training
    shards — per C24 shard: document count, language breadth, Shannon
    entropy of the language mix, and the dominant language's share.
    Curriculum/packing bugs surface exactly here: a shard dominated by
    one source/language trains like a distribution shift even when the
    corpus-level mix (C23/C40) is perfect, because the OPTIMIZER sees
    batches, not corpora. This is the audit a trainer runs over the
    manifest before spending GPU-hours; top_share > policy triggers
    C70's interleave.

    Shape: C24's shared prefix-sum assigns shards (serial work
    n/bucket_size, the proven machinery), then ONE (shard, lang)
    aggregation — everything after runs on the shards x langs table.
    The entropy's p*log2(p) folds over integer counts, rounded 6dp on
    both engines; the dominant language ties break (cnt DESC, lang
    DESC) identically via explicit row_number on both sides.

    Scale: corpus contributes the prefix sum + one combine-friendly
    aggregation; shard count is corpus_tokens/budget, and the audit
    table is shards x |langs| — metadata-sized at any corpus."""
    d = load_table(spark, sf_dir, "documents")
    t = widen(d).select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens")
    )
    s = running_total_before(t, "doc_id", "n_tokens").select(
        "doc_id",
        "lang",
        F.floor(F.col("__cum_before").cast("double") / _SHARD_BUDGET)
        .cast("bigint")
        .alias("shard_id"),
    )
    c = s.groupBy("shard_id", "lang").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("shard_id")
    tot = (
        c.withColumn("n_docs", F.sum("cnt").over(w))
        .groupBy("shard_id")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_langs"),
            F.round(
                -F.sum(
                    (F.col("cnt").cast("double") / F.col("n_docs"))
                    * F.log2(F.col("cnt").cast("double") / F.col("n_docs"))
                ),
                6,
            ).alias("lang_entropy"),
        )
    )
    top = (
        c.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("shard_id").orderBy(
                    F.col("cnt").desc(), F.col("lang").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("shard_id", F.col("lang").alias("top_lang"), "cnt")
    )
    return (
        tot.join(top, "shard_id")
        .select(
            "shard_id",
            "n_docs",
            "n_langs",
            "lang_entropy",
            "top_lang",
            F.round(F.col("cnt").cast("double") / F.col("n_docs"), 6).alias(
                "top_share"
            ),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# C91: DSIR importance resampling (hashed n-gram importance weights)
# ---------------------------------------------------------------------------

_DSIR_TARGET = ("src0", "src1", "src2")  # curated-domain proxy
_DSIR_BUCKETS = 256
_DSIR_TOPK = 100


@query(
    "q_c91_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ), feat AS (
      SELECT doc_id, source,
             {_bucket_sql("token", _DSIR_BUCKETS)} AS bucket
      FROM tok
    ), bstats AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS raw_n,
             CAST(SUM(CASE WHEN source IN ('src0', 'src1', 'src2')
                           THEN 1 ELSE 0 END) AS BIGINT) AS tgt_n
      FROM feat GROUP BY bucket
    ), totals AS (
      SELECT CAST(SUM(raw_n) AS BIGINT) AS raw_total,
             CAST(SUM(tgt_n) AS BIGINT) AS tgt_total
      FROM bstats
    ), weights AS (
      SELECT bucket,
             ROUND(ln((tgt_n + 1)::DOUBLE
                      / (totals.tgt_total + {_DSIR_BUCKETS}))
                   - ln((raw_n + 1)::DOUBLE
                        / (totals.raw_total + {_DSIR_BUCKETS})), 6)
               AS log_ratio
      FROM bstats CROSS JOIN totals
    ), per_doc AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             {dsum_sql("w.log_ratio")} AS importance
      FROM feat f JOIN weights w USING (bucket)
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens, importance
    FROM per_doc
    ORDER BY importance DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def q_c91_dsir_importance(spark, sf_dir):
    """C91 (extension): DSIR-style data selection via importance
    resampling (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"). Documents are featurized as hashed
    unigram bags; each hash bucket gets a log importance ratio
    ln(p_target(b)) - ln(p_raw(b)) under add-one smoothing, where the
    target distribution comes from a curated source subset (src0-2
    here; in production, Wikipedia/books vs the raw crawl). A
    document's importance weight is the sum of its tokens' bucket
    ratios, and the top-k weighted documents are the selected
    training subset.

    Cross-engine determinism: the bucket is the engine-portable
    md5 bucket (C22's idiom); each bucket's log-ratio is rounded to
    6 dp ONCE in the 256-row weight table (per-row IEEE, identical
    both engines), and the per-doc score sums those fixed 6-dp values
    in DECIMAL(38,6) (functions/exact.py) so Spark's partial-sum
    order and DuckDB's sequential order agree bit-for-bit.

    Scale: one token explode feeds ONE groupBy(bucket) pass that
    computes raw and target counts together (count + conditional
    count — no second corpus scan for the target distribution); the
    weight table is |buckets| = 256 rows, broadcast back onto the
    per-(doc, bucket) count table, so the corpus-sized shuffles are
    the (doc_id, bucket) partial-count agg and the final per-doc sum
    — both map-side combined on keys that grow with the corpus, never
    with the vocabulary. The top-k is a TakeOrdered (per-partition
    heaps + k-sized driver merge), not a global sort. At 100 TB the
    DSIR paper's full pipeline (importance weights -> Gumbel top-k
    sample) drops in by replacing the LIMIT with the C69 weighted
    reservoir over these weights."""
    d = load_table(spark, sf_dir, "documents")
    feat = (
        widen(d)
        .select(
            "doc_id", "source", F.explode(tokenize("text")).alias("token")
        )
        .select(
            "doc_id",
            "source",
            hash_bucket("token", _DSIR_BUCKETS).alias("bucket"),
        )
    )
    is_tgt = F.col("source").isin(*_DSIR_TARGET)
    bstats = feat.groupBy("bucket").agg(
        F.count("*").alias("raw_n"),
        F.sum(is_tgt.cast("long")).alias("tgt_n"),
    )
    totals = bstats.agg(
        F.sum("raw_n").alias("raw_total"), F.sum("tgt_n").alias("tgt_total")
    )
    weights = bstats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("tgt_n") + 1).cast("double")
                / (F.col("tgt_total") + _DSIR_BUCKETS)
            )
            - F.log(
                (F.col("raw_n") + 1).cast("double")
                / (F.col("raw_total") + _DSIR_BUCKETS)
            ),
            6,
        ).alias("log_ratio"),
    )
    return (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            dsum("log_ratio").alias("importance"),
        )
        .orderBy(F.col("importance").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


@query(
    "q_c107_exact_apportionment",
    oracle="""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS n, CAST(SUM(n_docs) // 10 AS BIGINT)
                     AS target FROM per),
    q AS (
      SELECT source, n_docs,
             CAST(n_docs * t.target // t.n AS BIGINT) AS base,
             n_docs * t.target % t.n AS rem
      FROM per, tot t
    ),
    topup AS (
      SELECT source, n_docs, base,
             CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                       <= (SELECT target FROM tot)
                          - (SELECT SUM(base) FROM q)
                  THEN 1 ELSE 0 END AS extra
      FROM q
    ),
    quota AS (
      SELECT source, n_docs, CAST(base + extra AS BIGINT) AS quota
      FROM topup
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                        1, 8))::BIGINT % 1000000007,
                        d.doc_id) AS rnk
      FROM documents d
    )
    SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rank_in_stratum,
           q.n_docs AS stratum_size, q.quota
    FROM ranked r JOIN quota q ON r.source = q.source
    WHERE r.rnk <= q.quota
    ORDER BY r.source, r.rnk
    """,
)
def q_c107_exact_apportionment(spark, sf_dir):
    """C107: EXACT stratified apportionment — a 10% sample whose
    per-stratum counts are the largest-remainder (Hamilton)
    apportionment of the global target, so the total is EXACTLY
    floor(N/10) and every stratum's count is within 1 of its exact
    proportional share. C36's hash-rate sampling is the right tool
    when per-stratum binomial noise is acceptable; this is the tool
    when the contract is a count ("exactly 50k eval docs, source
    proportions preserved") — rate sampling misses integer targets
    by sqrt(n) and quota-first methods (C56) need the quotas handed
    in; Hamilton DERIVES them: floor quotas + the target shortfall
    topped up by largest fractional remainder (tie toward the
    smaller source name, deterministic).

    Within each stratum the quota picks the smallest hash-rank docs
    (the C22 portable-hash order), so membership is content-stable
    under reruns AND under corpus growth the sample drifts minimally
    (a doc leaves only when enough smaller-ranked docs arrive).

    Integer-exact throughout: quotas are BIGINT floor/mod arithmetic
    (no float share ever computed), the top-up rank compares integer
    remainders. Scale: one |strata|-row aggregate + driver-free
    apportionment over that tiny table, one rank window PER STRATUM
    (keyed — the corpus never single-partitions), one broadcast
    quota join."""
    from etl_spark_eks_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    per = widen(d).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = per.agg(
        F.sum("n_docs").alias("n"),
        F.expr("sum(n_docs) DIV 10").alias("target"),
    )
    q = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("n_docs * target DIV n").alias("base"),
        (F.col("n_docs") * F.col("target") % F.col("n")).alias("rem"),
        "target",
    )
    from pyspark.sql import Window

    shortfall = q.agg(
        (F.max("target") - F.sum("base")).cast("long").alias("k")
    )
    w_rem = Window.orderBy(F.col("rem").desc(), "source")
    quota = (
        q.crossJoin(F.broadcast(shortfall))
        .withColumn("pos", F.row_number().over(w_rem))
        .select(
            "source",
            "n_docs",
            (
                F.col("base")
                + (F.col("pos") <= F.col("k")).cast("long")
            ).alias("quota"),
        )
    )
    w_strat = Window.partitionBy("source").orderBy(
        hash_bucket(F.col("doc_id"), 1_000_000_007), "doc_id"
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rank_in_stratum", F.row_number().over(w_strat).cast("long")
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("rank_in_stratum") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            "rank_in_stratum",
            F.col("n_docs").alias("stratum_size"),
            "quota",
        )
        .orderBy("source", "rank_in_stratum")
    )


# Chi-square critical value, df=63, alpha=0.05 — the 64-bucket test.
_C108_CRIT = 82.529
_C108_BUCKETS = 64


@query(
    "q_c108_shuffle_uniformity_audit",
    oracle=f"""
    WITH b AS (
      SELECT source,
             ('0x' || substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT % {_C108_BUCKETS} AS bucket
      FROM documents
    ),
    cells AS (
      SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM b GROUP BY source, bucket
    ),
    per AS (
      SELECT source, SUM(c) AS n, COUNT(*) AS n_occupied,
             SUM(c * c) AS sum_sq
      FROM cells GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(n_occupied AS BIGINT) AS n_occupied_buckets,
           ROUND({_C108_BUCKETS}.0 * sum_sq / n - n, 6) AS chi2,
           {_C108_BUCKETS}.0 * sum_sq / n - n < {_C108_CRIT}
             AS well_mixed
    FROM per ORDER BY source
    """,
)
def q_c108_shuffle_uniformity_audit(spark, sf_dir):
    """C108: training-order SHUFFLE uniformity audit — C46 assigns
    the stable hash-derived training order; this checks that the
    order actually MIXES: each source's docs, bucketed into 64
    equal hash-order slices, must be chi-square-uniform (a clumped
    source means a training run sees correlated batches — the
    gradient-noise pathology data ordering is supposed to prevent).
    The pairing follows C13->C104: the operator that PRODUCES an
    artifact gets the operator that AUDITS it.

    The statistic uses the classic simplification for equal
    expected counts: chi2 = B*sum(c_b^2)/n - n, which needs only
    integer sums (count and sum of squared counts per source) — one
    (source, bucket) rollup of at most |sources| x 64 cells, then a
    |sources|-row fold; the per-doc bucket is a seeded portable-hash
    projection (seed in the hash input, so re-audits of a reshuffled
    epoch change one literal). The boolean compares the identical
    integer-derived double against the df=63 critical value on both
    engines. Empty buckets need no special casing: the simplified
    form accounts for them exactly, and n_occupied_buckets is
    reported so a pathological collapse (many empty slices) is
    visible directly.

    Scale: one map-side-combined (source, bucket) count — the only
    corpus exchange; everything after is sources-sized."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(
        F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string")),
        _C108_BUCKETS,
    )
    cells = (
        widen(d)
        .select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = cells.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").cast("long").alias("n_occupied_buckets"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    chi2 = (
        float(_C108_BUCKETS) * F.col("sum_sq") / F.col("n") - F.col("n")
    )
    return per.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        "n_occupied_buckets",
        F.round(chi2, 6).alias("chi2"),
        (chi2 < _C108_CRIT).alias("well_mixed"),
    ).orderBy("source")


# Tokens per training sequence for C110's chunk map. 512 at fixture
# scale (sf0.01 has ~66k tokens -> ~130 chunks, enough to exercise
# every boundary case: doc inside chunk, doc spanning chunks, chunk
# holding many docs); production swaps 2048/4096/8192 — one constant.
_C110_CHUNK = 512


@query(
    "q_c110_packed_chunk_map",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '')) AS n
      FROM documents
    ), pos AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
               AS cb
      FROM toks WHERE n > 0
    )
    SELECT CAST(c AS BIGINT) AS chunk_id,
           doc_id,
           CAST(GREATEST(cb - c * {_C110_CHUNK}, 0) AS BIGINT) AS tok_start,
           CAST(LEAST(cb + n - c * {_C110_CHUNK}, {_C110_CHUNK}) AS BIGINT)
             AS tok_end,
           CAST(n AS BIGINT) AS n_doc_tokens,
           (c = cb // {_C110_CHUNK}) AS is_doc_start,
           (c = (cb + n - 1) // {_C110_CHUNK}) AS is_doc_end
    FROM pos, UNNEST(range(CAST(cb // {_C110_CHUNK} AS BIGINT),
                           CAST((cb + n - 1) // {_C110_CHUNK} + 1
                                AS BIGINT))) AS u(c)
    """,
)
def q_c110_packed_chunk_map(spark, sf_dir):
    """C110 (extension): GPT-style sequence packing — concatenate the
    token stream in doc_id order and cut it into fixed-length training
    chunks, emitting per (chunk, doc) the exact token span the doc
    occupies inside the chunk. This is the OTHER packing contract from
    C24/C45: those keep documents whole and fill variable shards; a
    causal-LM pretraining loader does the opposite — every sequence is
    exactly CHUNK tokens, documents are SPLIT across boundaries, and
    the trainer needs the boundary map to reset attention / mask the
    loss at document joins (the attention-span table). Output:
    (chunk_id, doc_id, tok_start, tok_end exclusive, n_doc_tokens,
    is_doc_start, is_doc_end) — per chunk, the spans tile [0, CHUNK)
    exactly; per doc, the spans concatenate to the whole doc. Both
    tiling invariants are pinned in tests/test_sampling.py.

    Shape: ONE token-count projection (no token rows ever materialize
    — size(tokenize()) stays inside the scan projection), the shared
    distributed two-phase prefix sum (running_total_before — the same
    no-global-window discipline as C24/C86), then a pure-arithmetic
    explode of sequence(first_chunk, last_chunk): each doc emits
    exactly the chunks it overlaps, 1 + n/CHUNK rows on average.
    Integer-exact throughout (DIV, no doubles), so the oracle matches
    value-for-value.

    Scale: zero corpus shuffle beyond the prefix sum's broadcast-
    offsets join; output is ~corpus-token-count/CHUNK + n_docs rows —
    a consumer materializing it for a loader would repartitionByRange
    on chunk_id (C35's layout discipline). Empty docs contribute no
    tokens and no rows (filtered, documented)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokenize("text")).alias("n")
    ).filter(F.col("n") > 0)
    pos = running_total_before(toks, "doc_id", "n").withColumnRenamed(
        "__cum_before", "cb"
    )
    c = F.col("chunk_id")
    first = F.expr(f"cb DIV {_C110_CHUNK}")
    last = F.expr(f"(cb + n - 1) DIV {_C110_CHUNK}")
    return (
        pos.select(
            "doc_id",
            "n",
            "cb",
            F.explode(F.sequence(first, last)).alias("chunk_id"),
        )
        .select(
            "chunk_id",
            "doc_id",
            F.greatest(
                F.col("cb") - c * _C110_CHUNK, F.lit(0)
            ).cast("long").alias("tok_start"),
            F.least(
                F.col("cb") + F.col("n") - c * _C110_CHUNK,
                F.lit(_C110_CHUNK),
            ).cast("long").alias("tok_end"),
            F.col("n").cast("long").alias("n_doc_tokens"),
            (c == F.expr(f"cb DIV {_C110_CHUNK}")).alias("is_doc_start"),
            (c == F.expr(f"(cb + n - 1) DIV {_C110_CHUNK}")).alias(
                "is_doc_end"
            ),
        )
    )


# C112's synthetic eval suite: three benchmark slices by id class.
_C112_BENCHES = (("bench_a", 97), ("bench_b", 89), ("bench_c", 83))


@query(
    "q_c112_benchmark_contamination_matrix",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL   -- planted verbatim benchmark copies (one per slice)
      SELECT doc_id + 2000000, source, text FROM documents
      WHERE doc_id IN (0, 89, 83)
    ), t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM corpus
    ), sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 4, 0) + 1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])
             ))) AS s
      FROM t
    ), benches AS (
      SELECT b.bench, b.m, sh.s
      FROM (VALUES ('bench_a', 97), ('bench_b', 89), ('bench_c', 83))
           AS b(bench, m)
      JOIN sh ON sh.doc_id % b.m = 0 AND sh.doc_id < 2000000
      GROUP BY b.bench, b.m, sh.s
    ), per_doc AS (
      SELECT b.bench, b.m, sh.doc_id, sh.source,
             COUNT(*) AS n_sh, COUNT(bs.s) AS n_hit
      FROM (VALUES ('bench_a', 97), ('bench_b', 89), ('bench_c', 83))
           AS b(bench, m)
      JOIN sh ON sh.doc_id % b.m <> 0 OR sh.doc_id >= 2000000
      LEFT JOIN benches bs ON bs.bench = b.bench AND bs.s = sh.s
      GROUP BY b.bench, b.m, sh.doc_id, sh.source
    )
    SELECT bench, source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE 2 * n_hit >= n_sh) AS BIGINT)
             AS n_contaminated
    FROM per_doc
    GROUP BY bench, source
    ORDER BY bench, source
    """,
)
def q_c112_benchmark_contamination_matrix(spark, sf_dir):
    """C112 (extension): contamination MATRIX across an eval SUITE —
    C55 gates the corpus against ONE benchmark; a real launch checks
    a suite (MMLU + GSM8K + HumanEval + ...), and the decision table
    is per (benchmark, source): which feeds leak which evals. Three
    id-class slices stand in for the suite; a verbatim copy of one
    doc per slice is planted (offset ids) so every benchmark row has
    a guaranteed positive. Contamination is C55's 5-gram overlap at
    the 0.5 threshold, evaluated in cross-multiplied integers
    (2·hits >= shingles — no float ratio, no tie flips).

    The suite is ONE pass: the corpus shingle table builds once, each
    benchmark's distinct-shingle set derives from it and broadcasts
    (benchmarks are tiny by construction — eval sets are KB-scale
    against a 100 TB corpus), and each benchmark's hit counts ride
    the same per-doc aggregation. Adding a benchmark adds one
    broadcast set, never a corpus re-scan — the reason this is an
    operator and not a loop over C55.

    Scale: the only corpus-sized exchange is the (doc, bench) hit
    aggregation (map-side combined, keyed by doc_id — never a single
    partition); candidate exclusion (a benchmark doc is not a
    candidate against its own slice) is a predicate, not a join."""
    from etl_spark_eks_spark.functions.text import (
        ordered_token_hashes,
        shingle_hashes,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = d.filter(F.col("doc_id").isin(0, 89, 83)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "source", "text"
    )
    corpus = d.unionByName(planted)
    from pyspark.storagelevel import StorageLevel

    # The shingle table feeds SIX consumers (each benchmark's set +
    # candidate side); unpersisted, the tokenize+shingle pipeline would
    # re-run per consumer (the q_c8/q_c16 measured pathology). Persist
    # it for the duration of the call; the result is materialized
    # eagerly below so the cache never leaks across queries.
    sh = (
        widen(corpus)
        .select(
            "doc_id",
            "source",
            ordered_token_hashes(tokenize("text")).alias("th"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingle_hashes("th", 5))).alias(
                "sh"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Round 12 (optimization, guide §2.4): ONE corpus pass for the
    # whole suite instead of one per benchmark. The three benchmark
    # shingle sets fold into a single broadcast membership table
    # (shingle -> per-bench 0/1 flags), the per-doc hit counts for
    # every benchmark ride the SAME groupBy(doc_id, source), and the
    # per-bench candidate exclusion becomes a post-aggregation
    # predicate on doc_id (per_doc still carries it) — same counts,
    # same rows, re-verified vs the oracle. Before: 3 broadcast-build
    # jobs + 3 per-doc aggregations over the persisted shingle table;
    # after: 1 + 1. Adding a benchmark now adds one flag column.
    bench_pred = [
        (F.col("doc_id") % m == 0) & (F.col("doc_id") < 2_000_000)
        for _, m in _C112_BENCHES
    ]
    bmap = (
        sh.filter(F.array_contains(F.array(*bench_pred), True))
        .groupBy(F.col("sh").alias("bsh"))
        .agg(
            *[
                F.max(p.cast("int")).alias(f"in_{i}")
                for i, p in enumerate(bench_pred)
            ]
        )
    )
    per_doc = (
        sh.join(F.broadcast(bmap), sh["sh"] == bmap["bsh"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_sh"),
            *[
                F.count(F.when(F.col(f"in_{i}") == 1, True)).alias(
                    f"h_{i}"
                )
                for i in range(len(_C112_BENCHES))
            ],
        )
    )
    # candidate exclusion per bench, applied post-aggregation (per_doc
    # keeps doc_id); both suite counters fold into ONE groupBy(source)
    # and the (bench, counts) rows unroll via a struct explode — no
    # second pass, no union of re-aggregations.
    cand_pred = [
        (F.col("doc_id") % m != 0) | (F.col("doc_id") >= 2_000_000)
        for _, m in _C112_BENCHES
    ]
    stats = per_doc.groupBy("source").agg(
        *[
            c
            for i, cp in enumerate(cand_pred)
            for c in (
                F.count(F.when(cp, True))
                .cast("long")
                .alias(f"nc_{i}"),
                F.count(
                    F.when(
                        cp & (2 * F.col(f"h_{i}") >= F.col("n_sh")), True
                    )
                )
                .cast("long")
                .alias(f"nx_{i}"),
            )
        ]
    )
    out = stats.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bench).alias("bench"),
                        F.col(f"nc_{i}").alias("n_candidates"),
                        F.col(f"nx_{i}").alias("n_contaminated"),
                    )
                    for i, (bench, _) in enumerate(_C112_BENCHES)
                ]
            )
        ).alias("b"),
    ).select(
        F.col("b.bench").alias("bench"),
        "source",
        F.col("b.n_candidates").alias("n_candidates"),
        F.col("b.n_contaminated").alias("n_contaminated"),
    )
    result = out.orderBy("bench", "source").localCheckpoint(eager=True)
    sh.unpersist()
    return result


@query(
    "q_c117_cluster_weighted_sample",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL   -- planted exact clones (C111's construction) so
                  -- multi-size clusters exist and down-weighting bites
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 89 = 0
      UNION ALL
      SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 89 = 0
      UNION ALL
      SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 178 = 0
    ), sized AS (
      SELECT doc_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS cluster_size,
             {_bucket_sql("doc_id", 1000)} AS bucket
      FROM corpus
    )
    SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(bucket AS BIGINT) AS bucket
    FROM sized
    WHERE bucket * cluster_size < 1000
    ORDER BY doc_id
    """,
)
def q_c117_cluster_weighted_sample(spark, sf_dir):
    """C117 (extension): count-weighted SOFT dedup — keep each doc with
    probability 1/cluster_size instead of C1's hard keep-one. The
    policy several pipelines prefer over hard dedup: expectation one
    representative per duplicate cluster, but WHICH copy survives is
    hash-random rather than always-min-id, so surviving copies stay
    exchangeable (no systematic bias toward the first crawl's
    formatting) and the decision is per-doc local — no canonical
    election, no join back. The keep rule is INTEGER-EXACT and
    content-stable: permille(doc_id) · cluster_size < 1000 (the C22
    portable bucket — rerun/engine/partition invariant), so the kept
    set is a pure function of (doc_id, cluster_size).

    C111's planted clones make size-3/4 clusters exist at fixture
    scale; the oracle replicates the plant and the bucket arithmetic
    exactly.

    Scale: one md5 count per cluster (a window over the C1 shuffle
    key — same exchange C1 pays; at 100 TB hash+id only, never text)
    + a per-row filter. Compare C1 (hard, deterministic canonical),
    C58 (quality-ranked canonical), this (stochastic-but-reproducible
    down-weighting) — three policies, one shuffle shape."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d
    for off, mod in ((2_000_000, 89), (3_000_000, 89), (4_000_000, 178)):
        corpus = corpus.unionByName(
            d.filter(F.col("doc_id") % mod == 0).select(
                (F.col("doc_id") + off).alias("doc_id"), "text"
            )
        )
    w = Window.partitionBy(F.md5("text"))
    sized = widen(corpus).select(
        "doc_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        hash_bucket(F.col("doc_id"), 1000).cast("long").alias("bucket"),
    )
    return (
        sized.filter(
            F.col("bucket") * F.col("cluster_size") < 1000
        ).orderBy("doc_id")
    )


@query(
    "q_c116_eval_proximity_report",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL   -- planted verbatim copies of two benchmark docs ->
                  -- guaranteed full-overlap training neighbors
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id IN (0, 97)
    ), t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM corpus
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 4, 0) + 1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])
             ))) AS s
      FROM t
    ), bench_tot AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh
      WHERE doc_id % 97 = 0 AND doc_id < 2000000 GROUP BY doc_id
    ), hits AS (
      SELECT b.doc_id AS bench_doc, c.doc_id AS cand_doc,
             COUNT(*) AS shared
      FROM sh b JOIN sh c ON b.s = c.s
      WHERE b.doc_id % 97 = 0 AND b.doc_id < 2000000
        AND (c.doc_id % 97 <> 0 OR c.doc_id >= 2000000)
      GROUP BY b.doc_id, c.doc_id
    ), best AS (
      SELECT bench_doc, cand_doc, shared,
             ROW_NUMBER() OVER (PARTITION BY bench_doc
                                ORDER BY shared DESC, cand_doc) AS rn
      FROM hits
    )
    SELECT bt.doc_id AS bench_doc,
           CAST(bt.n_sh AS BIGINT) AS n_shingles,
           CAST(b.cand_doc AS BIGINT) AS nearest_train_doc,
           CAST(COALESCE(b.shared, 0) AS BIGINT) AS shared_shingles
    FROM bench_tot bt
    LEFT JOIN best b ON b.bench_doc = bt.doc_id AND b.rn = 1
    ORDER BY bench_doc
    """,
)
def q_c116_eval_proximity_report(spark, sf_dir):
    """C116 (extension): eval-proximity report — C55 REVERSED. C55
    asks per TRAINING doc "how much benchmark is in you" (the
    removal gate); this asks per BENCHMARK item "what is your nearest
    training neighbor and how close" — the report an evals team reads
    before trusting a score: an eval item whose nearest-train
    neighbor shares 80% of its shingles is measuring memorization no
    matter what the decontam gate said (the gate thresholds per-doc
    overlap; a SHORT eval item can be fully contained in a long
    training doc that itself stays under 0.5). Argmax is pinned
    deterministic (shared DESC, candidate id ASC); benchmark items
    with NO sharing candidate stay in the report with NULLs — absence
    of a neighbor is the evidence, exactly C82's zero-row rule.
    Verbatim plants guarantee a full-overlap positive every run.

    Shape: one corpus shingle table; the benchmark side is tiny so
    its shingles BROADCAST into the corpus-side join (eval sets are
    KB vs 100 TB); hit counts aggregate keyed by (bench, candidate)
    — bench-bounded cardinality; the argmax window partitions by
    bench item. The lexical sibling of C98's embedding argmax,
    sharing its broadcast-the-small-side plan."""
    bench_tot, hits = _eval_proximity_tables(spark, sf_dir)
    w = Window.partitionBy("bench_doc").orderBy(
        F.col("shared").desc(), "cand_doc"
    )
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        bench_tot.join(best, "bench_doc", "left")
        .select(
            F.col("bench_doc"),
            "n_shingles",
            F.col("cand_doc").cast("long").alias("nearest_train_doc"),
            F.coalesce(F.col("shared"), F.lit(0))
            .cast("long")
            .alias("shared_shingles"),
        )
        .orderBy("bench_doc")
    )


def _eval_proximity_tables(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """The shared benchmark-proximity pass behind q_c116 (the nearest-
    neighbor report) and q_c147 (its arrival-epoch view): one persisted
    corpus+plants shingle pipeline, returning ``bench_tot`` (bench_doc,
    n_shingles) and ``hits`` (bench_doc, cand_doc, shared) — both
    bench-bounded, eagerly localCheckpoint-ed so the expensive shingle
    stage runs once and its cache is released before returning."""
    from etl_spark_eks_spark.functions.text import (
        ordered_token_hashes,
        shingle_hashes,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id").isin(0, 97)).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    from pyspark.storagelevel import StorageLevel

    # Three consumers (bench join side, candidate side, bench totals)
    # of one expensive shingle pipeline -> persist for the call; the
    # report below is bench-sized, so materializing it eagerly and
    # releasing the cache costs nothing.
    sh = (
        widen(corpus)
        .select(
            "doc_id", ordered_token_hashes(tokenize("text")).alias("th")
        )
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_hashes("th", 5))).alias(
                "s"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    is_bench = (F.col("doc_id") % 97 == 0) & (
        F.col("doc_id") < 2_000_000
    )
    bench = sh.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "s"
    )
    cand = sh.filter(~is_bench).select(
        F.col("doc_id").alias("cand_doc"), "s"
    )
    hits = (
        cand.join(F.broadcast(bench), "s")
        .groupBy("bench_doc", "cand_doc")
        .agg(F.count("*").alias("shared"))
        .localCheckpoint(eager=True)
    )
    bench_tot = (
        bench.groupBy("bench_doc")
        .agg(F.count("*").cast("long").alias("n_shingles"))
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return bench_tot, hits


@query(
    "q_c147_contamination_arrival_epochs",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id IN (0, 97)
    ), t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM corpus
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 4, 0) + 1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])
             ))) AS s
      FROM t
    ), bench_tot AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh
      WHERE doc_id % 97 = 0 AND doc_id < 2000000 GROUP BY doc_id
    ), hits AS (
      SELECT b.doc_id AS bench_doc, c.doc_id AS cand_doc,
             COUNT(*) AS shared
      FROM sh b JOIN sh c ON b.s = c.s
      WHERE b.doc_id % 97 = 0 AND b.doc_id < 2000000
        AND (c.doc_id % 97 <> 0 OR c.doc_id >= 2000000)
      GROUP BY b.doc_id, c.doc_id
    ), flag AS (
      SELECT h.bench_doc, h.cand_doc, h.shared
      FROM hits h JOIN bench_tot bt ON bt.doc_id = h.bench_doc
      WHERE h.shared * 10 >= bt.n_sh
    ),
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    arr AS (
      SELECT bench_doc,
             ((cand_doc % 2000000) * 4) // (SELECT m FROM mx) AS epoch,
             CAST(COUNT(*) AS BIGINT) AS n_cands,
             CAST(MAX(shared) AS BIGINT) AS max_shared
      FROM flag GROUP BY bench_doc, epoch
    )
    SELECT bench_doc, epoch, n_cands, max_shared,
           CAST(SUM(n_cands) OVER (PARTITION BY bench_doc
                                   ORDER BY epoch) AS BIGINT) AS cum_cands
    FROM arr
    ORDER BY bench_doc, epoch
    """,
)
def q_c147_contamination_arrival_epochs(spark, sf_dir):
    """C147 (extension, round 12): contamination ARRIVAL-EPOCH view —
    C144's time-axis pattern applied to C116's eval-proximity hits
    (the round-12 survey queue): WHEN did each benchmark item's
    contaminating neighbors enter the corpus? A candidate counts as
    contaminating when it shares >= 10% of the bench item's distinct
    5-shingles (``shared * 10 >= n_shingles`` — integer
    cross-multiplied, C64's fp-slack-free discipline; the verbatim
    plants guarantee full-overlap positives every run). Each
    contaminator is attributed to C143's doc_id-quartile ingestion
    epoch of its ORIGINAL document (plant clones map back via
    ``cand_doc % 2000000`` — the clone models a re-crawl of the same
    underlying page, so its arrival is the original's), then counted
    per (bench_doc, epoch) with max_shared and a per-item cumulative
    — the curve that separates "contaminated since epoch 0" (freeze
    the eval) from "one recent feed introduced it" (roll back the
    feed).

    Shape: the shingle pipeline, broadcast bench join, and
    bench-bounded hit table are the SAME single pass as q_c116
    (shared _eval_proximity_tables helper — corpus touched once,
    results eagerly checkpointed at bench size); the epoch
    attribution is a 1-row max-id broadcast fold (C143's class,
    lint-allowlisted) and everything downstream is bench-sized."""
    d = load_table(spark, sf_dir, "documents")
    bench_tot, hits = _eval_proximity_tables(spark, sf_dir)
    flag = hits.join(bench_tot, "bench_doc").where(
        F.col("shared") * 10 >= F.col("n_shingles")
    )
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    arr = (
        flag.crossJoin(F.broadcast(mx))
        .select(
            "bench_doc",
            F.expr("((cand_doc % 2000000) * 4) div m").alias("epoch"),
            "shared",
        )
        .groupBy("bench_doc", "epoch")
        .agg(
            F.count("*").cast("bigint").alias("n_cands"),
            F.max("shared").cast("bigint").alias("max_shared"),
        )
    )
    w = (
        Window.partitionBy("bench_doc")
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        arr.withColumn("cum_cands", F.sum("n_cands").over(w).cast("bigint"))
        .orderBy("bench_doc", "epoch")
    )


# C119: anonymized-id space — 2^24 slots over ~n docs makes a planted,
# countable birthday-collision presence at fixture scale while staying
# sparse (the production mask is 2^63; the audit shape is identical).
_C119_MASK = (1 << 24) - 1


@query(
    "q_c119_id_anonymization_audit",
    oracle=f"""
    WITH mapped AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               & {_C119_MASK} AS anon_id
      FROM documents
    ), per_slot AS (
      SELECT anon_id, COUNT(*) AS n FROM mapped GROUP BY anon_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_slots,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE n > 1) AS BIGINT)
             AS n_collided_slots,
           CAST(COALESCE(SUM(n) FILTER (WHERE n > 1), 0) AS BIGINT)
             AS n_collided_docs,
           CAST(MAX(n) AS BIGINT) AS max_slot_load
    FROM per_slot
    """,
)
def q_c119_id_anonymization_audit(spark, sf_dir):
    """C119 (extension): ID anonymization with a COLLISION audit —
    publishing a dataset (or sharing eval slices with a vendor) means
    re-keying documents so original ids (crawl URLs, customer keys)
    don't leak through join attacks; the deterministic hash-mask map
    (the C22 portable md5, masked to the id-space width) is the
    rerun-stable way to do it, and the audit is the part teams skip
    and regret: two docs landing on one anon id silently MERGE
    downstream (dedup verdicts, labels, and metrics cross-attach).
    The report is the go/no-go: slot count, collided slots/docs, max
    load — at the fixture's deliberately narrow 24-bit mask the
    birthday bound makes collisions present and countable, so the
    positive path runs every time; widening the mask to 2^63 is the
    production setting of the SAME audit.

    Integer-exact single-pass: one (anon_id) groupBy (map-side
    combined), one conditional-aggregate fold (the B159 FILTER
    discipline). Scale: the shuffle key is the 8-byte anon id and
    nothing else moves; the fold output is 1 row."""
    mapped = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % (1 << 32)  # conv is unsigned; align with DuckDB's ::BIGINT
        ).bitwiseAND(_C119_MASK).alias("anon_id"),
    )
    per_slot = mapped.groupBy("anon_id").agg(F.count("*").alias("n"))
    over = F.col("n") > 1
    return per_slot.agg(
        F.count("*").cast("long").alias("n_slots"),
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.when(over, True)).cast("long").alias("n_collided_slots"),
        F.coalesce(F.sum(F.when(over, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_collided_docs"),
        F.max("n").cast("long").alias("max_slot_load"),
    )


@query(
    "q_c122_post_dedup_mix_report",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL  -- planted exact clones so dedup has real mass to drop
      SELECT doc_id + 2000000, source, text FROM documents
      WHERE doc_id % 89 = 0
      UNION ALL
      SELECT doc_id + 3000000, source, text FROM documents
      WHERE doc_id % 178 = 0
    ), sized AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\s+'),
                             t -> t <> '')) AS n_tok,
             (doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)))
               AS is_keeper
      FROM corpus
    ), per_source AS (
      SELECT source,
             CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
             CAST(COALESCE(SUM(n_tok) FILTER (WHERE is_keeper), 0)
                  AS BIGINT) AS tokens_after,
             CAST(COUNT(*) FILTER (WHERE NOT is_keeper) AS BIGINT)
               AS docs_dropped
      FROM sized GROUP BY source
    ), tot AS (
      SELECT SUM(tokens_before) AS tb, SUM(tokens_after) AS ta
      FROM per_source
    )
    SELECT p.source, p.tokens_before, p.tokens_after, p.docs_dropped,
           CAST(p.tokens_before * 1000000 // t.tb AS BIGINT)
             AS share_before_ppm,
           CAST(p.tokens_after * 1000000 // t.ta AS BIGINT)
             AS share_after_ppm
    FROM per_source p, tot t
    ORDER BY p.source
    """,
)
def q_c122_post_dedup_mix_report(spark, sf_dir):
    """C122 (extension): POST-DEDUP mixture report — what exact dedup
    (C1's keep-min rule) does to each source's token budget AND to
    the corpus mixture itself. Dedup is not mixture-neutral: the
    spammiest source loses the most tokens, so the carefully-planned
    C23/C84 proportions silently shift the moment dedup runs — this
    report is what the data lead reads BEFORE re-solving the mix
    (share_before vs share_after in exact ppm; a big gap on one
    source = re-run the C84 waterfill on post-dedup counts). Planted
    clones (C111's construction, biased by the id classes they hit)
    give the drop real mass at fixture scale.

    Integer-exact: keeper flag from the same md5 window C117 uses,
    token sums and ppm shares via DIV — every column hash-matches.

    Scale: ONE md5-keyed window (C1's exchange) + one |sources|
    rollup + a 1-row total broadcast; the corpus is scanned once and
    only (id, source, n_tok, md5) ever shuffles."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    corpus = d
    for off, mod in ((2_000_000, 89), (3_000_000, 178)):
        corpus = corpus.unionByName(
            d.filter(F.col("doc_id") % mod == 0).select(
                (F.col("doc_id") + off).alias("doc_id"), "source", "text"
            )
        )
    w = Window.partitionBy(F.md5("text"))
    sized = widen(corpus).select(
        "source",
        F.size(tokenize("text")).alias("n_tok"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )
    per_source = sized.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("tokens_before"),
        F.coalesce(
            F.sum(F.when(F.col("is_keeper"), F.col("n_tok"))), F.lit(0)
        )
        .cast("long")
        .alias("tokens_after"),
        F.count(F.when(~F.col("is_keeper"), True))
        .cast("long")
        .alias("docs_dropped"),
    )
    tot = per_source.agg(
        F.sum("tokens_before").alias("tb"),
        F.sum("tokens_after").alias("ta"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens_before",
            "tokens_after",
            "docs_dropped",
            F.expr("tokens_before * 1000000 div tb")
            .cast("long")
            .alias("share_before_ppm"),
            F.expr("tokens_after * 1000000 div ta")
            .cast("long")
            .alias("share_after_ppm"),
        )
        .orderBy("source")
    )


@query(
    "q_b179_monotonic_id_contract",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS ids_unique,
           TRUE AS ids_encode_partition,
           TRUE AS monotone_within_partition,
           TRUE AS ids_not_dense
    FROM documents
    """,
)
def q_b179_monotonic_id_contract(spark, sf_dir):
    """B179: `monotonically_increasing_id` — the surface AND its
    sharp edges, pinned as a contract. The function is the tempting
    first answer to "give every row an id" at 100 TB because it is
    embarrassingly parallel (no shuffle, no window): 64-bit ids with
    the PARTITION index in the upper 31 bits and a per-partition
    counter below. The contract this operator proves by
    construction, with the corpus spread over multiple partitions:
    (1) ids are globally UNIQUE; (2) id >> 33 equals
    spark_partition_id() — the documented bit layout, which is WHY
    (3) ids are monotone only WITHIN a partition and (4) NOT dense
    (max id >> row count whenever partition 1+ exists). (3)+(4) are
    the production warnings: the ids change with partitioning, so
    they are neither stable join keys across runs nor shard
    addresses — the job C46's content-keyed two-phase prefix sum
    exists to do correctly. Verdicts ride as oracle-TRUE booleans
    (B19 shape: SQL cannot see partitioning).

    Scale: the demonstrated function is the zero-shuffle path; the
    audit aggregates are one pass. The repartition(8) +
    localCheckpoint pins a multi-partition layout so the claims are
    exercised, not vacuous, at every fixture scale."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(8)
        .localCheckpoint(eager=True)
    )
    ids = d.select(
        "doc_id",
        F.monotonically_increasing_id().alias("mid"),
        F.spark_partition_id().alias("pid"),
    )
    audit = ids.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("mid").alias("n_ids"),
        F.sum(
            F.when(
                F.shiftright(F.col("mid"), 33) != F.col("pid"), 1
            ).otherwise(0)
        ).alias("bad_layout"),
        F.max("mid").alias("max_id"),
    ).first()
    # Monotone-within-partition is proven by COUNTER CONTIGUITY, not a
    # lag() window ordered by mid (which could only ever re-detect
    # duplicate ids — vacuous): the low 33 bits are the per-partition
    # counter, so per pid they must be exactly {0 .. count(pid)-1}.
    # Contiguity of the counter set + global uniqueness above IS the
    # per-partition counter layout — ids were handed out 0,1,2,... in
    # row order — without needing any row-order column.
    counter = F.col("mid").bitwiseAND(F.lit((1 << 33) - 1))
    contig_bad = (
        ids.groupBy("pid")
        .agg(
            F.count("*").alias("n"),
            F.max(counter).alias("cmax"),
            F.min(counter).alias("cmin"),
        )
        .filter(
            (F.col("cmax") != F.col("n") - 1) | (F.col("cmin") != 0)
        )
        .count()
    )
    return (
        ids.agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "n_docs",
            F.lit(bool(audit["n_ids"] == audit["n_docs"])).alias(
                "ids_unique"
            ),
            F.lit(bool(audit["bad_layout"] == 0)).alias(
                "ids_encode_partition"
            ),
            F.lit(bool(contig_bad == 0)).alias(
                "monotone_within_partition"
            ),
            F.lit(bool(audit["max_id"] > audit["n_docs"])).alias(
                "ids_not_dense"
            ),
        )
    )
