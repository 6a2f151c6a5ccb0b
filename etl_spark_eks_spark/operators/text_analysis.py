"""Text analysis for LLM-training-data curation (SURVEY §2 C5/C6/C7 +
extensions): term stats, per-doc quality metrics, TF-IDF, regex token
counting, fingerprints, language-ID heuristic.

Everything except the hash-based fingerprint is oracle-verified SQL.
Scale: token explodes are partition-local; the only shuffles are the
final (term) or (lang) aggregations, all with map-side combine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table, widen
from etl_spark_eks_spark.functions.text import (
    ordered_token_hashes,
    shingles,
    token_stats,
    tokenize,
)
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.registry import query


@query(
    "q_c5_top_terms",
    oracle="""
    SELECT token, COUNT(*) AS occurrences,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS token
          FROM documents) t
    GROUP BY token
    ORDER BY occurrences DESC, token
    LIMIT 20
    """,
)
def q_c5_top_terms(spark, sf_dir):
    """C5: corpus-wide top-20 terms with document frequency.

    Two-level aggregation instead of ``count + countDistinct`` in one
    ``agg``: mixing a distinct and a plain aggregate makes Catalyst plan
    an Expand that DOUBLES the exploded token stream before the shuffle
    (measured 2.2x regression at sf0.1 — the same pathology q_b19 hit,
    aggregates.py). Level 1 groups by (token, doc_id) — map-side
    combined, output is bounded by vocab x docs-per-term — and level 2
    derives both statistics from it with ordinary aggregates."""
    d = load_table(spark, sf_dir, "documents")
    return (
        widen(d)
        .select("doc_id", F.explode(tokenize("text")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("c"))
        .groupBy("token")
        .agg(
            F.sum("c").alias("occurrences"),
            F.count("*").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), "token")
        .limit(20)
    )


@query(
    "q_c6_doc_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(len(list_filter(string_split_regex(text, '\\s+'),
                                     t -> t <> ''))), 6) AS avg_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_c6_doc_stats(spark, sf_dir):
    """C6: per-language document statistics (the language-distribution
    profile of a training corpus)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(tokenize("text"))), 6).alias("avg_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@query(
    "q_c7_tfidf",
    oracle="""
    WITH tokens AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored WHERE doc_id < 100)
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_c7_tfidf(spark, sf_dir):
    """C7: TF-IDF — two aggregation passes (term frequency per doc,
    document frequency per term), top-3 terms per doc (bounded to
    doc_id < 100 for the oracle).

    Round-3 shape (the round-2 version was a measured 4.2x regression):
    - The doc_id < 100 bound is applied at the TF side's SCAN, not after
      the join — the expensive explode+agg runs over the bounded slice,
      never the corpus, and Catalyst pushes the predicate into parquet.
    - ``n_docs`` is a 1-row aggregate crossJoined into the plan (the C26
      ``tot`` pattern) instead of a separate ``d.count()`` action — one
      job, no second full-table scan.
    - Document frequency is a corpus-global statistic, but only for
      terms that survive to the output: a broadcast semi-join on the
      (tiny, bounded) tf term set prunes the full token stream BEFORE
      the groupBy shuffle. The corpus-sized side is never broadcast
      (vocabulary grows with scale — an unconditional broadcast of it
      OOMed a default-sized heap in round 1); the bounded tf side is.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tokens = widen(d).select(
        "doc_id", F.explode(tokenize("text")).alias("term")
    )
    df = (
        tokens.join(
            F.broadcast(tf.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        df.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "q_c10_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
             AS distinct_ratio,
           ROUND(CAST(n_chars - len(toks) + 1 AS DOUBLE) / len(toks), 6)
             AS avg_token_len,
           (len(toks) BETWEEN 20 AND 1000
            AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3)
             AS passes_quality
    FROM t
    """,
)
def q_c10_quality_score(spark, sf_dir):
    """C10 (extension): per-doc quality metrics + a filter verdict —
    the length/repetition gate of a training-data pipeline. (avg token
    length derives from n_chars: single-space corpus => chars = sum(len)
    + (n-1) separators.)"""
    d = load_table(spark, sf_dir, "documents")
    stats = token_stats(F.col("text"))
    n = stats["n_tokens"]
    distinct_ratio = F.round(stats["distinct_ratio"], 6)
    return d.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        stats["n_distinct_tokens"].alias("n_distinct_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        F.round(
            (F.col("n_chars") - n + 1).cast("double") / n, 6
        ).alias("avg_token_len"),
        (n.between(20, 1000) & (stats["distinct_ratio"] >= 0.3)).alias(
            "passes_quality"
        ),
    )


@query(
    "q_c11_token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                AS BIGINT) AS n_bpe_ish,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
                AS BIGINT) AS n_whitespace
    FROM documents
    """,
)
def q_c11_token_count_regex(spark, sf_dir):
    """C11 (extension): token counting two ways — whitespace and a
    BPE-ish lexer regex (letter runs / digit runs / single punct) —
    the cost-estimation primitive for LLM data budgeting."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        )
        .cast("long")
        .alias("n_bpe_ish"),
        F.size(tokenize("text")).cast("long").alias("n_whitespace"),
    )


def _c12_oracle() -> str:
    """q_c12's DuckDB oracle: portable ordered token hashes -> 3-shingle
    portable hashes -> per-doc min (short docs hash the joined array)."""
    from etl_spark_eks_spark.functions.text import ph32_sql, ph64_sql

    shingle = ph64_sql(
        "concat_ws(',', CAST(h[i] AS VARCHAR),"
        " CAST(h[i+1] AS VARCHAR), CAST(h[i+2] AS VARCHAR))"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
               t -> {ph32_sql('t')}) AS h
      FROM documents
    ),
    sh AS (
      SELECT doc_id, h,
             CASE WHEN len(h) >= 3
                  THEN list_transform(range(1, len(h) - 1), i -> {shingle})
                  ELSE CAST([] AS BIGINT[]) END AS s
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN len(s) > 0 THEN list_min(s)
                ELSE {ph64_sql("array_to_string(h, ',')")} END AS fingerprint
    FROM sh
    """


@query("q_c12_fingerprint", oracle=_c12_oracle())
def q_c12_fingerprint(spark, sf_dir):
    """C12 (extension): rolling-hash document fingerprint over 3-token
    shingles. Exact dups share fingerprints (asserted in tests) —
    a cheap pre-cluster key before pairwise near-dup work.

    Oracle (round 11, was rows-only): runs the portable md5-derived
    family (functions/text.py portable_rolling_fingerprint) so the
    fingerprints are bit-identical in DuckDB."""
    from etl_spark_eks_spark.functions.text import (
        portable_ordered_token_hashes,
        portable_rolling_fingerprint,
    )

    d = widen(load_table(spark, sf_dir, "documents"))
    th = d.select(
        "doc_id", portable_ordered_token_hashes(tokenize("text")).alias("th")
    )
    return th.select(
        "doc_id", portable_rolling_fingerprint("th", 3).alias("fingerprint")
    )


# Tiny per-language marker lexicons for the heuristic language scorer.
# Real pipelines use char-n-gram models; the operator shape (score per
# language, argmax) is identical, and this version is SQL-mirrorable.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "des"),
    "zh": ("de5", "shi4", "le5"),
}


# The marker-argmax CASE, shared by C13 (per-doc) and C104 (confusion
# matrix) so both oracles and both Spark sides stay one definition.
_LANG_PRED_SQL = f"""
           CASE GREATEST(
                  len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["en"])!r}, x))),
                  len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["de"])!r}, x))),
                  len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["es"])!r}, x))),
                  len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["fr"])!r}, x))),
                  len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["zh"])!r}, x))))
             WHEN 0 THEN 'und'
             WHEN len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["en"])!r}, x))) THEN 'en'
             WHEN len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["de"])!r}, x))) THEN 'de'
             WHEN len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["es"])!r}, x))) THEN 'es'
             WHEN len(list_filter(toks, x -> list_contains({list(_LANG_MARKERS["fr"])!r}, x))) THEN 'fr'
             ELSE 'zh' END
"""


def lang_pred_expr(toks):
    """C13's marker-argmax as a reusable Column (en>de>es>fr>zh tie
    precedence, 'und' when no markers hit)."""

    def marker_hits(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scores = {lang: marker_hits(ms) for lang, ms in _LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "und")
    for lang in ("en", "de", "es", "fr"):
        pred = pred.when(scores[lang] == best, lang)
    return pred.otherwise("zh")


@query(
    "q_c13_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id, lang AS lang_actual,
           {{_LANG_PRED_SQL}} AS lang_pred
    FROM t
    """.replace("{_LANG_PRED_SQL}", _LANG_PRED_SQL),
)
def q_c13_lang_id(spark, sf_dir):
    """C13 (extension): heuristic language ID — marker-token hit counts
    per language, argmax with fixed precedence (en>de>es>fr>zh on ties,
    'und' when no markers hit). The synthetic corpus shares vocabulary
    across langs, so accuracy is meaningless here; the operator shape
    and determinism are what's verified."""
    d = load_table(spark, sf_dir, "documents")
    pred = lang_pred_expr(tokenize(F.col("text")))
    return d.select(
        "doc_id", F.col("lang").alias("lang_actual"), pred.alias("lang_pred")
    )


@query(
    "q_c20_pii_scrub",
    oracle="""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or http://ex.com/d/'
                  || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
                '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, 'https?://[^ ]+'))
                AS BIGINT) AS n_urls,
           regexp_replace(
             regexp_replace(t,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                 '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g') AS scrubbed
    FROM pii
    """,
)
def q_c20_pii_scrub(spark, sf_dir):
    """C20 (extension): PII/URL scrubbing — the redaction pass of a
    training-data pipeline. Emails and URLs are counted
    (regexp_extract_all) and replaced with placeholder tags
    (regexp_replace; Spark replaces all occurrences by default, the
    oracle passes DuckDB's 'g' flag for the same semantics). The
    fixture corpus contains no PII, so each doc gets one synthetic
    email + URL injected deterministically from its doc_id on BOTH
    sides — the regexes are exercised for real, the comparison stays
    exact. Patterns are dialect-safe (shared by Java regex and RE2:
    explicit classes, no lookaround). Scale: pure per-row regex,
    no shuffle, whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = r"https?://[^ ]+"
    pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or http://ex.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("t"),
    )
    return pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(email), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(url), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("t", email, "<EMAIL>"), url, "<URL>"
        ).alias("scrubbed"),
    )


@query(
    "q_c26_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ), freq AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(ln(CAST(f.n AS DOUBLE) / tot.total)), 6)
             AS avg_logprob
    FROM tok t JOIN freq f ON t.token = f.token CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_c26_unigram_logprob(spark, sf_dir):
    """C26 (extension): unigram language-model scoring — each document's
    mean log-probability under the corpus's own unigram distribution,
    the cheap stand-in for perplexity filtering (cut the tail of
    out-of-distribution / gibberish documents before training).

    Scale: two passes over the token stream. Pass 1 builds the term
    frequency table (groupBy token, map-side combined) — its size is
    the VOCABULARY, orders of magnitude smaller than the corpus — but it
    still GROWS with corpus scale, so pass 2 joins it back token->freq
    with NO broadcast hint: AQE picks broadcast while freq fits the
    threshold and degrades to a shuffle join when it doesn't (the same
    reasoning that removed this hint from C7 after a measured OOM). The
    1-row global total stays an explicit broadcast. The per-doc output
    is deliberately unsorted — see sampling.py's no-trailing-sort rule."""
    d = load_table(spark, sf_dir, "documents")
    tok = widen(d).select(
        "doc_id", F.explode(tokenize("text")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    return (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n").cast("double") / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "q_c28_repetition_metrics",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct, t
      FROM tok
    ), bg AS (
      SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS bigram
      FROM base, UNNEST(range(1, greatest(n_tokens - 1, 0) + 1)) AS r(i)
    ), bgc AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    ), bga AS (
      SELECT doc_id, MAX(c) AS top_bg, CAST(SUM(c) AS BIGINT) AS n_bg
      FROM bgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           ROUND(1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6)
             AS dup_token_frac,
           ROUND(CAST(a.top_bg AS DOUBLE) / a.n_bg, 6) AS top_bigram_frac,
           (1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens) < 0.7
             AND CAST(a.top_bg AS DOUBLE) / a.n_bg < 0.2 AS keep
    FROM base b JOIN bga a ON b.doc_id = a.doc_id
    WHERE b.n_tokens >= 2
    """,
)
def q_c28_repetition_metrics(spark, sf_dir):
    """C28 (extension): intra-document repetition metrics — the
    Gopher/RefinedWeb-style quality rules that cut machine-generated or
    boilerplate-looping text before training: fraction of duplicated
    tokens (1 - distinct/total) and the share of all bigrams taken by
    the single most frequent bigram, with a keep verdict at the
    published-style thresholds (dup < 0.7, top-bigram < 0.2).

    Scale: tokenization and bigram construction are per-row expressions
    pipelined into the scan; the only shuffle is the (doc_id, bigram)
    count — keyed by doc, so it is skew-free by construction (a doc's
    bigrams are bounded by its length, and the aggregation is map-side
    combined). Docs shorter than 2 tokens have no bigram distribution
    and are excluded on both sides."""
    d = load_table(spark, sf_dir, "documents")
    base = widen(d).select(
        "doc_id",
        tokenize("text").alias("t"),
    ).select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        F.explode(shingles("t", 2)).alias("bigram"),
    )
    # No explicit n_tokens >= 2 filter: docs shorter than 2 tokens have
    # no bigrams, so the (non-outer) explode already drops them — and an
    # explicit filter on the projected alias gets predicate-pushed below
    # the projection, re-evaluating the tokenize expression a second
    # time at the scan (verified in the plan).
    bga = (
        base.groupBy("doc_id", "n_tokens", "n_distinct", "bigram")
        .count()
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(F.max("count").alias("top_bg"), F.sum("count").alias("n_bg"))
    )
    dup_frac = 1 - F.col("n_distinct").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_bg").cast("double") / F.col("n_bg")
    return bga.select(
        "doc_id",
        "n_tokens",
        F.round(dup_frac, 6).alias("dup_token_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((dup_frac < 0.7) & (top_frac < 0.2)).alias("keep"),
    )


@query(
    "q_c31_length_quantiles",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_disc(n_chars, 0.25) AS p25,
           quantile_disc(n_chars, 0.50) AS p50,
           quantile_disc(n_chars, 0.75) AS p75,
           quantile_disc(n_chars, 0.90) AS p90,
           quantile_disc(n_chars, 0.99) AS p99
    FROM documents
    GROUP BY lang
    """,
)
def q_c31_length_quantiles(spark, sf_dir):
    """C31 (extension): per-language document-length quantiles via the
    mergeable quantile sketch (``percentile_approx``, Greenwald-Khanna).

    Why a sketch and not exact ``percentile``: the exact aggregate must
    see each group's full sorted value set in one place — at 100 TB
    that is a giant shuffle and a per-group memory spike. The GK sketch
    is bounded-size, built map-side per partition, and MERGED
    associatively on the reduce side like any other partial aggregate;
    rank error is bounded by n/accuracy. At accuracy=1e6 the sketch is
    rank-exact for any group under ~1M rows — verified to match
    DuckDB's quantile_disc bit-for-bit at both driver scales — while
    the 100 TB contract degrades gracefully to ±0.0001% rank error.
    """
    d = load_table(spark, sf_dir, "documents")
    qs = [0.25, 0.50, 0.75, 0.90, 0.99]
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        *(
            F.percentile_approx("n_chars", q, 1_000_000).alias(name)
            for q, name in zip(qs, ["p25", "p50", "p75", "p90", "p99"])
        ),
    )


@query(
    "q_c32_doc_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
               AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), c AS (
      SELECT doc_id, n, i AS start
      FROM s, UNNEST(range(0, n, 48)) AS r(i)
    )
    SELECT c.doc_id,
           CAST(c.start / 48 AS INTEGER) AS chunk_idx,
           CAST(LEAST(64, c.n - c.start) AS INTEGER) AS n_chunk_tokens,
           array_to_string(s.toks[c.start + 1 : c.start + 64], ' ')
             AS chunk_text
    FROM c JOIN s USING (doc_id)
    """,
)
def q_c32_doc_chunking(spark, sf_dir):
    """C32 (extension): split documents into fixed-size overlapping token
    chunks (max 64 tokens, stride 48 -> 16-token overlap) — the
    context-window packing step between curation and tokenization in an
    LLM data pipeline. Contract: chunk k covers tokens
    [k*stride, k*stride + max), for every start < n_tokens; short tail
    chunks are emitted (downstream packing — C24 — handles them).

    Scale: pure per-row computation — tokenize, generate starts, slice;
    the explode multiplies rows ~n/stride x but involves NO shuffle, so
    it pipelines into the scan and parallelizes with it. The chunk text
    is re-materialized by slicing the token array once per chunk
    (array_join of a slice), never by re-tokenizing."""
    max_tokens, stride = 64, 48
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select("doc_id", tokenize("text").alias("toks"))
    toks = toks.withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    chunks = toks.withColumn(
        "start",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))),
    )
    return chunks.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.least(F.lit(max_tokens), F.col("n") - F.col("start"))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice("toks", F.col("start") + 1, max_tokens), " "
        ).alias("chunk_text"),
    )


@query(
    "q_c38_bigram_lm",
    oracle=r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS toks
      FROM documents
    ), p AS (
      SELECT toks[CAST(r.i AS INTEGER)] AS w1,
             toks[CAST(r.i AS INTEGER) + 1] AS w2
      FROM t, UNNEST(range(1, len(toks))) AS r(i)
    ), c AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM p GROUP BY w1, w2
    ), r AS (
      SELECT w1, w2, n_pair,
             SUM(n_pair) OVER (PARTITION BY w1) AS tot,
             ROW_NUMBER() OVER (PARTITION BY w1
                                ORDER BY n_pair DESC, w2) AS rk
      FROM c
    )
    SELECT w1, w2, n_pair,
           ROUND(CAST(n_pair AS DOUBLE) / tot, 6) AS prob,
           CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 5
    """,
)
def q_c38_bigram_lm(spark, sf_dir):
    """C38 (extension): count-based bigram LM table — for every token,
    its top-5 continuations with conditional probability
    P(w2|w1) = count(w1,w2) / count(w1,·). This is the count-collection
    pass of n-gram LM training (KenLM-style) and the model behind
    corpus-level repetition/novelty diagnostics; C26 consumes the
    unigram analogue for per-doc scoring.

    Scale: bigram extraction is a per-row explode over consecutive
    token pairs (no shuffle); the (w1, w2) count aggregates with
    map-side combine — corpus size enters ONLY that one shuffle, whose
    output is vocabulary-squared-bounded, not corpus-bounded. The
    normalizing window then runs on the counts table: each w1
    partition holds at most |vocab| rows no matter how hot the word
    is ("the" costs vocab-sized work, never corpus-sized), and the
    rank<=5 filter executes as WindowGroupLimit on it."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(tokenize("text").alias("t"))
    n = F.size("t")
    pairs = toks.filter(n >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    w = Window.partitionBy("w1")
    w_rk = Window.partitionBy("w1").orderBy(F.col("n_pair").desc(), "w2")
    return (
        counts.withColumn("tot", F.sum("n_pair").over(w))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 5)
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("tot"), 6).alias(
                "prob"
            ),
            "rk",
        )
    )


@query(
    "q_c41_source_drift",
    oracle=r"""
    WITH per_doc AS (
      SELECT source,
             CAST(n_chars AS DOUBLE) AS n_chars,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS DOUBLE) AS n_tokens
      FROM documents
    ), per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             AVG(n_chars) AS avg_chars, AVG(n_tokens) AS avg_tokens
      FROM per_doc GROUP BY source
    ), g AS (
      SELECT AVG(avg_chars) AS mu, stddev_samp(avg_chars) AS sigma
      FROM per_src
    )
    SELECT s.source, s.n_docs,
           ROUND(s.avg_chars, 4) AS avg_chars,
           ROUND(s.avg_tokens, 4) AS avg_tokens,
           ROUND((s.avg_chars - g.mu) / g.sigma, 4) AS z_chars,
           (ABS((s.avg_chars - g.mu) / g.sigma) > 2) AS is_outlier
    FROM per_src s, g
    """,
)
def q_c41_source_drift(spark, sf_dir):
    """C41 (extension): per-source quality drift report — each source's
    mean document length/token count, z-scored against the
    across-sources distribution, with a |z|>2 outlier flag. This is
    the ingestion-monitoring query of a corpus pipeline: a crawler
    that silently starts truncating (or a boilerplate explosion at one
    domain) shows up as a drifting source BEFORE it pollutes training
    — the operational twin of C10's per-document gate.

    Scale: one map-side-combined aggregate over the corpus to
    source-level rows (thousands, not billions); the z-scoring runs on
    that tiny table via a 1-row stats crossJoin — the corpus is
    touched exactly once. ROUND(4) bounds the cross-engine
    parallel-summation ulp noise on the mean/stddev."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = widen(d).select(
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
        F.size(tokenize("text")).cast("double").alias("n_tokens"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.avg("n_tokens").alias("avg_tokens"),
    )
    g = per_src.agg(
        F.avg("avg_chars").alias("mu"),
        F.stddev_samp("avg_chars").alias("sigma"),
    )
    z = (F.col("avg_chars") - F.col("mu")) / F.col("sigma")
    return per_src.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        F.round("avg_chars", 4).alias("avg_chars"),
        F.round("avg_tokens", 4).alias("avg_tokens"),
        F.round(z, 4).alias("z_chars"),
        (F.abs(z) > 2).alias("is_outlier"),
    )


@query(
    "q_c42_inverted_index",
    oracle=r"""
    WITH pairs AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(text, '\s+'), x -> x <> ''))) AS token
      FROM documents
    ), r AS (
      SELECT token, doc_id,
             ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rk
      FROM pairs
    )
    SELECT token, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id) FILTER (rk <= 20)), ',')
             AS postings_csv,
           (COUNT(*) > 20) AS truncated
    FROM r GROUP BY token
    """,
)
def q_c42_inverted_index(spark, sf_dir):
    """C42 (extension): inverted-index build — token -> sorted posting
    list of documents containing it, CAPPED at 20 postings per token
    with the exact document frequency and a truncation flag kept
    alongside. The retrieval-side structure of a corpus pipeline
    (keyword search, BM25 candidate generation, decontamination
    probes) built as a query.

    Scale: the cap bounds MEMORY, not the shuffle — exact df
    inherently needs every (token, doc) pair at the reducer (cheapen
    it only by degrading to a sketch, B19), so the pairs shuffle once
    on token regardless; but an uncapped collect_list on a stopword's
    postings would then materialize millions of doc_ids in ONE
    aggregation buffer — the classic hot-key OOM — while the when(rk
    <= 20) guard keeps every buffer at 20 entries. The rank window
    and the aggregate share the token partitioning, so the window
    adds a sort but no second exchange. (Note WindowGroupLimit does
    NOT apply here — it needs a rank FILTER, which would also discard
    the rows df counts; C33 is the pruning-eligible shape.) Full
    postings for rare tokens, bounded postings + honest truncation
    for hot ones — which is also what production inverted indexes do
    (stopword lists ARE the truncated flag).

    The posting list is emitted as a comma-joined STRING (`array_join`),
    not an array column: the serialized form is what an index shard
    stores anyway, and scalar columns are what downstream hash-compared
    consumers (including the round driver's pandas canonicalizer, which
    cannot sort list cells) can handle."""
    d = load_table(spark, sf_dir, "documents")
    pairs = widen(d).select(
        "doc_id",
        F.explode(F.array_distinct(tokenize("text"))).alias("token"),
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("token").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.sort_array(
                F.collect_list(F.when(F.col("rk") <= 20, F.col("doc_id")))
            ),
            ",",
        ).alias("postings_csv"),
        (F.count("*") > 20).alias("truncated"),
    )


@query(
    "q_c47_sketch_partials",
    oracle="""
    WITH tokens AS (
      SELECT source,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT token) AS n_distinct_tokens,
           TRUE AS sketch_within_5pct
    FROM tokens
    GROUP BY source
    """,
)
def q_c47_sketch_partials(spark, sf_dir):
    """C47: mergeable distinct-count sketch table — per-shard HLL
    partials (`hll_sketch_agg`) merged per source (`hll_union_agg`)
    without rescanning the corpus. This is the incremental corpus-stats
    pattern B19's one-shot `approx_count_distinct` cannot give: at
    100 TB each ingestion batch computes its own k-byte sketch once,
    the standing stats table stores sketches (not raw tokens), and any
    rollup (per source, per corpus, per time slice) is a union of
    sketch BINARIES — an agg over n_shards rows, never over the data.

    The query's checked RESULT is the exact per-source distinct count
    plus a bounded-error flag on the merged sketch estimate (the same
    self-verifying contract as B19); the exactness of the estimate is
    not hash-compared because HLL is implementation-specific.

    Scale: sketches are ~4 KB regardless of cardinality; the partial
    table is n_sources x n_shards rows. The exact arm (countDistinct)
    exists only for verification and would be dropped in production."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "source",
        (F.col("doc_id") % 8).alias("shard"),
        F.explode(tokenize("text")).alias("token"),
    )
    partials = toks.groupBy("source", "shard").agg(
        F.hll_sketch_agg("token").alias("sk")
    )
    merged = partials.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = toks.groupBy("source").agg(
        F.count_distinct("token").alias("n_distinct_tokens")
    )
    return exact.join(merged, "source").select(
        "source",
        "n_distinct_tokens",
        (
            F.abs(F.col("est") - F.col("n_distinct_tokens"))
            <= 0.05 * F.col("n_distinct_tokens")
        ).alias("sketch_within_5pct"),
    )


@query(
    "q_c48_zipf_histogram",
    oracle="""
    WITH tokens AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS occurrences FROM tokens GROUP BY token)
    SELECT CAST(LENGTH(bin(occurrences)) AS INT) AS freq_bin,
           COUNT(*) AS n_tokens,
           CAST(SUM(occurrences) AS BIGINT) AS total_occurrences
    FROM freq
    GROUP BY freq_bin
    """,
)
def q_c48_zipf_histogram(spark, sf_dir):
    """C48: token rank-frequency (Zipf) histogram — vocabulary size and
    mass per power-of-two frequency band. The corpus-distribution audit
    that catches a scrape gone wrong (boilerplate blowup = mass piling
    into the top bands; OCR noise = singleton-band explosion) from one
    cheap pass, without materializing a ranked vocabulary.

    The band is the BIT LENGTH of the token's occurrence count
    (`length(conv(n, 10, 2))` == floor(log2 n)+1) — integer-exact and
    engine-portable, where floor(log2(double)) can flip at exact powers
    of two between libm implementations.

    Scale: one map-side-combined token agg (the corpus's only
    shuffle), then a vocabulary-sized re-agg into <=64 rows. No sort,
    no window; the hottest token is one combiner cell per task."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        widen(d)
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
    )
    return (
        freq.groupBy(
            F.length(F.conv(F.col("occurrences"), 10, 2))
            .cast("int")
            .alias("freq_bin")
        )
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("occurrences").alias("total_occurrences"),
        )
    )


@query(
    "q_c49_classifier_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(token), 1, 8))::BIGINT % 256) AS fidx
      FROM toks
    ),
    weights AS (
      SELECT i AS fidx,
             (((('0x' || substr(md5('w' || CAST(i AS VARCHAR)), 1, 8))
                ::BIGINT % 2001) - 1000) / 1000.0) AS w
      FROM generate_series(0, 255) t(i)
    ),
    s AS (
      SELECT doc_id, SUM(w) AS logit
      FROM feats JOIN weights USING (fidx)
      GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(1 / (1 + EXP(-(logit - 0.1))), 6) AS quality_prob,
           ROUND(1 / (1 + EXP(-(logit - 0.1))), 6) >= 0.5 AS keep
    FROM s
    """,
)
def q_c49_classifier_quality(spark, sf_dir):
    """C49: model-based quality scoring — a linear classifier over
    hashing-trick token features, the fasttext-style model-filter rung
    between C10's hand rules and C26's unigram LM. The model is a
    256-float weight vector BROADCAST to every task; per doc the score
    is sigmoid(bias + sum of the weights its tokens hash into). In
    production the weights come from a trained model file; here they
    are derived deterministically from the portable md5 bucket so the
    DuckDB oracle can reproduce them bit-for-bit (same expression both
    engines), which checks the entire serving plumbing — feature
    hashing, broadcast join, per-doc fold, logistic link.

    Scale: the weight table is KB-sized regardless of corpus (the
    broadcast join never shuffles the exploded tokens); the only
    exchange is the per-doc partial-aggregated sum. Swapping in real
    learned weights changes one 256-row DataFrame, not the plan.
    Logit sums ROUND to 6 decimals: per-doc double addition order is
    partition-dependent and exp() may differ in the last ulp across
    libm implementations. `keep` thresholds the ROUNDED probability
    for the same reason — the weights are exact multiples of 1/1000,
    so a doc whose logit-unit sum lands exactly on the decision
    boundary has true prob == 0.5 and an unrounded comparison would
    let summation-order noise flip the boolean between engines."""
    s = classifier_quality_prob(spark, load_table(spark, sf_dir, "documents"))
    return s.select(
        "doc_id",
        F.col("prob").alias("quality_prob"),
        (F.col("prob") >= 0.5).alias("keep"),
    )


def classifier_quality_prob(spark, d):
    """C49's serving core as a reusable stage: (doc_id, prob) where
    prob is the 6dp-rounded sigmoid of the hashing-trick linear model
    (broadcast 256-weight vector; weights md5-derived so SQL oracles
    reproduce them — see q_c49). Consumed by q_c49 itself and by
    C54's filter ensemble."""
    from etl_spark_eks_spark.operators.sampling import hash_bucket

    feats = (
        widen(d)
        .select("doc_id", F.explode(tokenize("text")).alias("token"))
        .select("doc_id", hash_bucket("token", 256).alias("fidx"))
    )
    weights = spark.range(256).select(
        F.col("id").alias("fidx"),
        (
            (
                hash_bucket(
                    F.concat(F.lit("w"), F.col("id").cast("string")), 2001
                )
                - 1000
            )
            / 1000.0
        ).alias("w"),
    )
    s = (
        feats.join(F.broadcast(weights), "fidx")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("logit"))
    )
    return s.select(
        "doc_id",
        F.round(1 / (1 + F.exp(-(F.col("logit") - 0.1))), 6).alias("prob"),
    )


@query(
    "q_c52_doc_perplexity",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS toks
      FROM documents
    ), p AS (
      SELECT doc_id,
             toks[CAST(r.i AS INTEGER)] AS w1,
             toks[CAST(r.i AS INTEGER) + 1] AS w2
      FROM t, UNNEST(range(1, len(toks))) AS r(i)
    ), c AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM p GROUP BY w1, w2
    ), lm AS (
      SELECT w1, w2,
             CAST(n_pair AS DOUBLE) / SUM(n_pair) OVER (PARTITION BY w1)
               AS prob
      FROM c
    )
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-log2(lm.prob)), 6) AS avg_nll_bits
    FROM p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
    GROUP BY p.doc_id
    """,
)
def q_c52_doc_perplexity(spark, sf_dir):
    """C52 (extension): per-document LM scoring — average bigram
    negative log-likelihood (bits/bigram, i.e. log2 perplexity)
    under the corpus's own count-based bigram model (C38's table,
    uncapped). The model-based fluency filter between C26's unigram
    scoring and C49's discriminative classifier: documents whose
    token transitions are improbable under the corpus distribution
    (OCR noise, shuffled text, wrong-language fragments) surface
    with high bits; repetitive/templated docs surface with
    anomalously LOW bits. Every doc bigram exists in the LM by
    construction (trained on the same corpus), so no backoff term is
    needed; production scoring against a foreign LM adds one
    coalesce to a smoothing floor.

    Scale: LM construction is C38's shape (one vocabulary-bounded
    shuffle + vocab-partitioned window); scoring joins the per-doc
    bigram stream to the LM on (w1, w2) — the LM is vocab^2-bounded,
    broadcast when small, hash-join on the same key otherwise — then
    one doc_id aggregation. Corpus size enters the two extraction
    passes and nothing else."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select("doc_id", tokenize("text").alias("t"))
    n = F.size("t")
    pairs = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    lm = counts.select(
        "w1",
        "w2",
        (
            F.col("n_pair").cast("double")
            / F.sum("n_pair").over(Window.partitionBy("w1"))
        ).alias("prob"),
    )
    return (
        pairs.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log2("prob")), 6).alias("avg_nll_bits"),
        )
    )


@query(
    "q_c51_bpe_pair_stats",
    oracle=r"""
    WITH vocab AS (
      SELECT token, COUNT(*) AS n_tok FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS token
        FROM documents
      ) GROUP BY token
    ), pairs AS (
      SELECT substring(token, CAST(r.i AS INTEGER), 2) AS pair,
             n_tok
      FROM vocab, UNNEST(range(1, length(token))) AS r(i)
    ), agg AS (
      SELECT pair, CAST(SUM(n_tok) AS BIGINT) AS occurrences
      FROM pairs GROUP BY pair
    ), ranked AS (
      SELECT pair, occurrences,
             ROW_NUMBER() OVER (ORDER BY occurrences DESC, pair) AS rk
      FROM agg
    )
    SELECT pair, occurrences, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 20
    """,
)
def q_c51_bpe_pair_stats(spark, sf_dir):
    """C51 (extension): BPE merge induction statistics — the top-20
    adjacent character pairs by corpus frequency, i.e. the candidate
    table one iteration of byte-pair-encoding training ranks before
    choosing its next merge. This is the tokenizer-TRAINING primitive
    (C11 counts with an existing tokenizer; this is how the tokenizer
    comes to exist), and the classic BPE scaling trick is baked into
    the plan shape: pair extraction runs over the VOCABULARY table
    (token, count) — vocab-bounded — never over the raw corpus, so
    corpus size enters only the one token-count shuffle. Iterating
    merges re-runs this query over a rewritten vocab (driver loop,
    C18's pattern); each iteration's candidate scan stays
    vocab-sized.

    Scale: shuffle 1 aggregates tokens (map-side combined,
    vocab-bounded output); pair explode fans the vocab x avg-token-
    length and re-aggregates to at most alphabet^2 rows; the top-20
    is a TakeOrderedAndProject heap, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        widen(d)
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_tok"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(token) - 1, 1)),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
        "n_tok",
    ).filter(F.length("pair") == 2)
    agg = pairs.groupBy("pair").agg(
        F.sum("n_tok").cast("long").alias("occurrences")
    )
    w = Window.orderBy(F.col("occurrences").desc(), "pair")
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("pair", "occurrences", "rk")
    )


_BM25_TERMS = ("join", "vector", "stream", "window", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "q_c60_bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS total_tokens
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term IN ({_BM25_TERMS_SQL})
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term,
             ROUND(ln(1 + (n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5)), 9)
               AS idf
      FROM tf CROSS JOIN stats GROUP BY term, n_docs
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(idf.idf * tf.tf * ({_BM25_K1} + 1)
                  / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl
                       / (CAST(total_tokens AS DOUBLE) / n_docs)))
                  AS DECIMAL(38,12)) AS c
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched, score
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_c60_bm25_topk(spark, sf_dir):
    """C60 (extension): BM25 top-k retrieval — Okapi BM25 (k1=1.2,
    b=0.75) scoring of the corpus against a fixed keyword query,
    top-20 documents. The ranking function behind keyword search and
    retrieval-based decontamination probes, built on the same
    token-stat shapes as C7's TF-IDF but with the saturating tf and
    length normalization that make BM25 the lexical-retrieval
    default.

    Scale: the IN-list filter lands BEFORE the (doc, term) shuffle,
    so only query-term pairs (|Q| <= 5 per doc) ever shuffle — corpus
    tokens reduce partition-locally into the doc-length table, whose
    (doc_id, dl) rows are the only full-corpus exchange. df/idf is a
    |Q|-row broadcast; the scalar (N, avgdl) row is a 1-row broadcast.
    At 100 TB the per-query cost is one dl pass (amortizable: dl is a
    standing column) plus a query-term-only aggregation — this is why
    inverted-index engines and Spark agree on the BM25 plan shape.

    Float discipline: idf is the one transcendental (ln differs in
    the last ulp across libm implementations) -> ROUND 9 on both
    engines; the per-(doc,term) contribution is then pure IEEE
    arithmetic on identical inputs, summed per doc in DECIMAL(38,12)
    (exact + associative, functions/exact.py) and rounded to 6dp.
    avgdl is computed as exact-integer total_tokens / n_docs — one
    double division, bit-identical cross-engine — never AVG(double)."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "doc_id", F.explode(tokenize("text")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = (
        d.agg(F.count("*").alias("n_docs"))
        .crossJoin(dl.agg(F.sum("dl").cast("long").alias("total_tokens")))
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                9,
            ).alias("idf"),
        )
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs")
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (_BM25_K1 + 1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
                )
            ).cast("decimal(38,12)").alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.round(F.sum("c").cast("double"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q_c62_unicode_normalize",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' Cafe' || chr(769) || '  NAI' || chr(776)
                       || 'VE' || chr(9) || 'End '
                  ELSE text END AS text
      FROM documents
    ),
    norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(nfc_normalize(text)),
                                 '\s+', ' ', 'g')) AS norm_text
      FROM seeded
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS raw_len,
           CAST(length(norm_text) AS BIGINT) AS norm_len,
           (norm_text <> text) AS changed
    FROM norm
    """,
)
def q_c62_unicode_normalize(spark, sf_dir):
    r"""C62 (extension): Unicode normalization audit — NFC
    composition + case folding + whitespace collapse per document,
    reporting raw/normalized code-point lengths and a changed flag.
    The canonicalization gate every multilingual training corpus
    needs before dedup: 'Cafe'+COMBINING ACUTE and the precomposed
    'Café' are byte-different but the SAME text, so un-normalized
    corpora leak near-duplicates past exact-hash dedup (C1) and
    inflate token counts. The fixture text is ASCII, so the query
    plants a denormalized suffix (combining acute U+0301, combining
    diaeresis U+0308, a tab, doubled spaces) on every 7th doc —
    fabricate-then-audit, the B69/C15/M9 pattern — making the
    changed-path non-vacuous and exercised row-by-row.

    Spark has no NFC built-in, so composition runs in an
    Arrow-batched pandas UDF over `unicodedata.normalize` — the
    documented slow path, justified because the operation is
    genuinely inexpressible in Catalyst; everything else (seeding,
    lengths, flag) stays JVM-side. The plan is one shuffle-free
    projection: normalization is embarrassingly parallel and at
    100 TB runs at scan speed as a mapInPandas stage of the ingest
    pipeline, never a standalone job.

    Cross-engine notes: DuckDB's `nfc_normalize` and Python's
    `unicodedata.normalize('NFC', ...)` implement the same Unicode
    standard; `lower` agrees on Latin; the whitespace class is the
    one divergence (RE2's \s is ASCII-only vs Python's Unicode \s),
    so the planted suffix sticks to ASCII whitespace and the Python
    side uses the ASCII class explicitly to pin identical semantics."""

    @F.pandas_udf("string")
    def nfc_fold(s: pd.Series) -> pd.Series:
        import re
        import unicodedata

        ws = re.compile(r"[ \t\n\r\f\v]+")
        return s.map(
            lambda t: ws.sub(
                " ", unicodedata.normalize("NFC", t).lower()
            ).strip()
        )

    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Café  NAÏVE\tEnd "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    norm = seeded.withColumn("norm_text", nfc_fold("text"))
    return norm.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_len"),
        F.length("norm_text").cast("long").alias("norm_len"),
        (F.col("norm_text") != F.col("text")).alias("changed"),
    )


@query(
    "q_c67_corpus_datasheet",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, source, text,
             len(list_filter(string_split_regex(text, '\s+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    ),
    core AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             ROUND(AVG(n_tokens), 6) AS avg_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM toks
    ),
    lang_ent AS (
      SELECT ROUND(-SUM(p * ln(p) / ln(2)), 6) AS lang_entropy_bits
      FROM (SELECT CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM documents) AS p
            FROM documents GROUP BY lang)
    ),
    dups AS (
      SELECT ROUND(CAST(COALESCE(SUM(c) FILTER (c > 1), 0) AS DOUBLE)
                   / (SELECT COUNT(*) FROM documents), 6) AS exact_dup_rate
      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY sha256(text))
    )
    SELECT * FROM core CROSS JOIN lang_ent CROSS JOIN dups
    """,
)
def q_c67_corpus_datasheet(spark, sf_dir):
    """C67 (extension): the corpus datasheet — one row summarizing
    what a dataset card reports before anyone trains on the data:
    document and token totals, language/source breadth, the Shannon
    entropy of the language mix (a 5-language corpus at entropy ~0 is
    monolingual with noise, at ~log2(5) it is balanced), and the
    exact-duplicate rate (share of docs whose sha256 appears more
    than once — C1's dedup pressure as a single number). The point of
    the operator is the SHAPE: every statistic folds to a 1-row
    aggregate, so the card is a handful of scans' worth of partial
    aggregation and six 1-row broadcasts, never a driver-side
    notebook loop.

    Scale: each CTE is an independent map-side-combined aggregation
    (the dup-rate one shuffles 32-byte hashes, the entropy one
    shuffles a langs-sized table); the cross joins are 1-row
    broadcasts. At 100 TB the card costs what the heaviest single
    statistic costs, and any statistic can be dropped or added
    without touching the others. Entropy is the one transcendental:
    terms are langs-count-sized so ROUND 6 leaves no realistic
    cross-engine boundary exposure; the dup rate and token stats are
    exact-integer ratios."""
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "lang", "source", F.size(tokenize("text")).alias("n_tokens")
    )
    core = toks.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
    )
    n_total = d.count()
    lang_ent = (
        d.groupBy("lang")
        .agg((F.count("*").cast("double") / n_total).alias("p"))
        .agg(
            F.round(
                -F.sum(F.col("p") * F.log("p") / F.log(F.lit(2.0))), 6
            ).alias("lang_entropy_bits")
        )
    )
    dups = (
        d.groupBy(F.sha2("text", 256))
        .agg(F.count("*").alias("c"))
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
                ).cast("double")
                / n_total,
                6,
            ).alias("exact_dup_rate")
        )
    )
    return core.crossJoin(F.broadcast(lang_ent)).crossJoin(F.broadcast(dups))


@query(
    "q_c71_pii_class_audit",
    oracle=r"""
    WITH seeded AS (
      SELECT source, n_chars,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 5 AS VARCHAR)
                          || '.example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 AS VARCHAR)
                          || '.' || CAST(doc_id % 100 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                     ELSE '' END AS t
      FROM documents
    ), counted AS (
      SELECT source, n_chars,
             len(regexp_extract_all(t,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS e,
             len(regexp_extract_all(t,
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS ip,
             len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS ph
      FROM seeded
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(ip) AS BIGINT) AS n_ipv4,
           CAST(SUM(ph) AS BIGINT) AS n_phones,
           CAST(count_if(e + ip + ph > 0) AS BIGINT) AS n_docs_with_pii,
           ROUND(CAST(SUM(e + ip + ph) AS DOUBLE)
                 / SUM(n_chars) * 1000, 6) AS pii_per_kchar
    FROM counted
    GROUP BY source
    """,
)
def q_c71_pii_class_audit(spark, sf_dir):
    r"""C71 (extension): per-class PII AUDIT — the governance report
    that precedes C20's scrub: per source, how many emails / IPv4
    addresses / phone numbers, how many documents carry any PII at
    all, and PII density per 1000 chars. A release decision needs the
    per-source census ('which crawl slice leaks contact info')
    before anything is redacted; C20 is the row-level fix, this is
    the corpus-level measurement that prioritizes it.

    The fixture corpus is synthetic word-soup with no PII, so three
    classes are planted deterministically on interleaved doc_id
    residue slices (%7 email, %11 IP, %13 phone — co-prime, so docs
    carry 0-3 classes) on BOTH engines: the B69/C15
    fabricate-then-audit pattern. Patterns are dialect-safe (shared
    Java-regex/RE2 subset: explicit classes, no lookaround), counted
    with regexp_count / len(regexp_extract_all) — both count
    non-overlapping left-to-right matches.

    Scale: pure per-row regex then one map-side-combined groupBy on
    the 20-value source key — the corpus never shuffles, counts and
    char totals fold exactly (integers), the single division happens
    per group."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    ipv4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
    phone = r"\+1-555-[0-9]{4}"
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    counted = d.select(
        "source",
        "n_chars",
        F.regexp_count(t, F.lit(email)).alias("e"),
        F.regexp_count(t, F.lit(ipv4)).alias("ip"),
        F.regexp_count(t, F.lit(phone)).alias("ph"),
    )
    total = F.col("e") + F.col("ip") + F.col("ph")
    return counted.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("e").cast("long").alias("n_emails"),
        F.sum("ip").cast("long").alias("n_ipv4"),
        F.sum("ph").cast("long").alias("n_phones"),
        F.count_if(total > 0).alias("n_docs_with_pii"),
        F.round(
            F.sum(total).cast("double") / F.sum("n_chars") * 1000, 6
        ).alias("pii_per_kchar"),
    )


@query(
    "q_c72_ngram_novelty",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 2, 0) + 1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])
             ))) AS s
      FROM t
    ), first AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(count_if(f.first_doc = sh.doc_id) AS BIGINT) AS n_novel,
           ROUND(CAST(count_if(f.first_doc = sh.doc_id) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM sh JOIN first f ON sh.s = f.s
    GROUP BY sh.doc_id
    """,
)
def q_c72_ngram_novelty(spark, sf_dir):
    """C72 (extension): n-gram NOVELTY curve — per document, the
    fraction of its distinct trigrams whose FIRST corpus occurrence
    (minimum doc_id, standing in for crawl order) is this document.
    The curriculum/dedup diagnostic between C28 (within-doc
    repetition) and C55 (overlap vs a fixed benchmark): a novelty
    near 0 means the doc is assembled from already-seen phrasing
    (boilerplate, template spam, near-dup tail) even when no single
    pair-wise match fires; the novelty-over-doc_id curve is the
    'how fast is the crawl exhausting fresh text' report every
    corpus datasheet (C67) wants.

    Spark side shingles via the injective xxhash64 ladder (C50's
    trick — trigram identity is a hash of 3 token hashes, no string
    concat); the oracle uses string trigrams — min-doc attribution
    and counts are preserved under injectivity.

    Scale: two content-keyed exchanges — groupBy(trigram) for the
    min-doc table, then the join back to the per-doc stream — the
    C50 join-back shape, both sides linear in corpus trigrams. The
    min-doc table is the corpus vocabulary: too big to broadcast by
    design; the join key is the trigram hash, uniformly distributed,
    so no salting is needed (hot n-grams concentrate COUNT, not key
    cardinality — the count lives in the aggregate, not the join)."""
    from etl_spark_eks_spark.functions.text import (
        ordered_token_hashes,
        shingle_hashes,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = widen(d).select(
        "doc_id", ordered_token_hashes(tokenize("text")).alias("th")
    )
    sh = toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingle_hashes("th", 3))).alias("sh"),
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count_if(F.col("first_doc") == F.col("doc_id"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 6).alias("novelty"),
        )
    )


@query(
    "q_c77_vocab_oov_audit",
    oracle="""
    WITH inst AS (
        SELECT d.lang, t.tok
        FROM documents d,
             UNNEST(list_filter(string_split_regex(d.text, '\\s+'),
                                x -> x <> '')) AS t(tok)
    ), lt AS (
        SELECT lang, tok, COUNT(*) AS cnt FROM inst GROUP BY lang, tok
    ), freq AS (
        SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cnt FROM lt GROUP BY tok
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rn
            FROM freq
        ) WHERE rn <= 256
    )
    SELECT lt.lang,
           CAST(SUM(lt.cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN lt.cnt ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN lt.cnt ELSE 0 END)::DOUBLE
                 / SUM(lt.cnt), 6) AS oov_rate,
           CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN lt.tok END)
                AS BIGINT) AS distinct_oov
    FROM lt LEFT JOIN vocab v USING (tok)
    GROUP BY lt.lang
    ORDER BY lt.lang
    """,
)
def q_c77_vocab_oov_audit(spark, sf_dir):
    """C77 (extension): tokenizer-vocabulary coverage audit — fix a
    vocabulary (top-256 tokens by corpus frequency, ties to the
    lexicographically smallest so the cut is total-ordered) and report
    each language's out-of-vocabulary mass: total tokens, OOV tokens,
    OOV rate, distinct OOV types. This is the "does the tokenizer fit
    the corpus" gate run before committing a vocab size — the per-lang
    split shows exactly which language pays for a shared vocabulary
    (the under-represented ones, whose text fragments into OOV/bytes —
    the fertility problem C51's BPE induction then addresses).

    Shape: one (lang, token) map-side-combined agg over the exploded
    corpus — every later stage works on that table, never the corpus:
    global frequencies re-aggregate it (vocab-bounded), the top-256
    rank window runs on the frequency table, and the vocab join is a
    256-row broadcast against the (lang, token) counts. The corpus is
    scanned once and shuffled once.

    Scale: the vocab cut is rank-over-token-table (C42's hot-key
    lesson: never rank the instance stream); the (lang, token) table
    is vocab x languages, millions of rows at web scale — trivially
    shuffleable. distinct-OOV folds from the same table with no extra
    pass."""
    d = load_table(spark, sf_dir, "documents")
    inst = widen(d).select(
        "lang", F.explode(tokenize("text")).alias("tok")
    )
    lt = inst.groupBy("lang", "tok").agg(F.count("*").alias("cnt"))
    freq = lt.groupBy("tok").agg(F.sum("cnt").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    vocab = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 256)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    joined = lt.join(F.broadcast(vocab), "tok", "left")
    oov_cnt = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(
        F.lit(0)
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.sum(oov_cnt).alias("oov_tokens"),
            F.round(F.sum(oov_cnt) / F.sum("cnt"), 6).alias("oov_rate"),
            F.count_distinct(
                F.when(F.col("in_vocab").isNull(), F.col("tok"))
            ).alias("distinct_oov"),
        )
        .orderBy("lang")
    )


@query(
    "q_c80_fertility_regression",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS DOUBLE) AS n_tokens,
               CAST(n_chars AS DOUBLE) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(REGR_SLOPE(n_tokens, n_chars), 6) AS tokens_per_char,
           ROUND(REGR_INTERCEPT(n_tokens, n_chars), 4) AS intercept,
           ROUND(REGR_R2(n_tokens, n_chars), 6) AS r2,
           ROUND(SUM(n_tokens) / SUM(n_chars), 6) AS mean_fertility
    FROM per_doc
    GROUP BY lang ORDER BY lang
    """,
)
def q_c80_fertility_regression(spark, sf_dir):
    """C80 (extension): per-language tokenizer FERTILITY regression —
    fit tokens ~ chars per language (slope, intercept, R²) plus the
    plain mass ratio. Fertility (tokens emitted per unit of text) is
    THE cross-language tokenizer-equity number: a language whose slope
    is 2× another's pays 2× the context window and 2× the compute for
    the same content, and the regression form separates the per-doc
    fixed cost (intercept) from the marginal rate (slope) — which the
    naive ratio conflates. Pairs with C77: OOV says which language the
    vocab ignores, fertility says what that neglect costs per
    character. B102's co-moment machinery applied to a C-tier
    question.

    Intercept rounds 4dp, slope/R² 6dp — B102's measured cancellation
    discipline (the intercept subtracts two large near-equal moments).

    Scale: one map-side-combined aggregate; the five co-moment partials
    per language are the whole shuffle. Whitespace tokens here; with a
    real tokenizer, token counts arrive as a column (C11's contract)
    and the plan is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = widen(d).select(
        "lang",
        F.size(tokenize("text")).cast("double").alias("n_tokens"),
        F.col("n_chars").cast("double").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.regr_slope("n_tokens", "n_chars"), 6).alias(
                "tokens_per_char"
            ),
            F.round(F.regr_intercept("n_tokens", "n_chars"), 4).alias(
                "intercept"
            ),
            F.round(F.regr_r2("n_tokens", "n_chars"), 6).alias("r2"),
            F.round(F.sum("n_tokens") / F.sum("n_chars"), 6).alias(
                "mean_fertility"
            ),
        )
        .orderBy("lang")
    )


_BLOCKLIST = (
    "hash join",
    "key agg row",
    "quantum flux",
    "slow scan",
    "table scan",
)


@query(
    "q_c82_blocklist_phrases",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_concat(
        list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                       i -> concat_ws(' ', tk[i], tk[i+1])),
        list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                       i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
      )) AS gram FROM t
    ), hits AS (
      SELECT gram,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_hits
      FROM g
      WHERE gram IN ('hash join', 'key agg row', 'quantum flux',
                     'slow scan', 'table scan')
      GROUP BY gram
    )
    SELECT p.phrase,
           CAST(COALESCE(hits.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits
    FROM (VALUES ('hash join'), ('key agg row'), ('quantum flux'),
                 ('slow scan'), ('table scan')) AS p(phrase)
    LEFT JOIN hits ON hits.gram = p.phrase
    ORDER BY p.phrase
    """,
)
def q_c82_blocklist_phrases(spark, sf_dir):
    """C82 (extension): multi-phrase blocklist scan with per-phrase
    attribution — for every phrase on a governance blocklist
    (NSFW/brand/compliance terms), how many documents contain it and
    how many total occurrences (token-boundary-aware: 'table scan'
    must not fire inside 'stable scans', which a LIKE '%..%' sweep
    gets wrong). Every phrase stays in the report, zeros included —
    the absent-phrase row is the evidence a term was checked, not
    skipped ('quantum flux' is the planted zero).

    Spark-first shape: documents are shingled ONCE per phrase LENGTH
    present on the list (here 2- and 3-grams — NOT once per phrase,
    the n_phrases x corpus rescan a naive contains() loop costs), and
    the membership filter runs INSIDE the array expression, BEFORE the
    explode — the generator emits only matching grams, so the ~2n-gram
    row stream (50k docs = ~10M rows at the 10x probe) is never
    materialized just to be discarded. Measured at the 10x replica:
    explode-then-filter 6.2 s vs filter-inside-array 2.9 s (the bare
    shingle-construction cost — the filter's row overhead is gone
    entirely). The single shuffle is on <= |blocklist| keys; the
    zero-keeping happens on a |blocklist|-row literal dim via
    broadcast left join. At 100 TB the cost is the tokenize+shingle
    projection, embarrassingly parallel; a 10k-phrase list changes the
    array_contains to a bloom-filter/broadcast-set lambda, same
    pre-explode placement."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    bl_arr = F.array(*[F.lit(p) for p in _BLOCKLIST])
    grams = widen(d).select(
        "doc_id",
        F.explode(
            F.filter(
                F.concat(shingles(toks, 2), shingles(toks, 3)),
                lambda x: F.array_contains(bl_arr, x),
            )
        ).alias("gram"),
    )
    hits = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_hits"),
        )
    )
    dim = values_df(spark, [(p,) for p in _BLOCKLIST], "phrase string")
    return (
        dim.join(F.broadcast(hits), dim.phrase == hits.gram, "left")
        .select(
            "phrase",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .orderBy("phrase")
    )


@query(
    "q_c87_bpe_merge_rounds",
    oracle=r"""
    WITH vocab AS (
      SELECT tok AS word, COUNT(*) AS cnt FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents) GROUP BY tok
    ),
    w0 AS (SELECT word, cnt,
           '  ' || array_to_string(string_split(word, ''), '  ') || '  '
             AS seq
           FROM vocab),
    p1 AS (
      SELECT sym[CAST(i AS INT)] AS s1, sym[CAST(i AS INT)+1] AS s2,
             CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT cnt, list_filter(string_split(seq, '  '),
                                    x -> x <> '') AS sym FROM w0),
           UNNEST(range(1, len(sym))) t(i)
      GROUP BY s1, s2),
    r1 AS (SELECT s1, s2, c FROM p1 ORDER BY c DESC, s1, s2 LIMIT 1),
    w1 AS (SELECT word, cnt,
           replace(seq, ' ' || r1.s1 || '  ' || r1.s2 || ' ',
                        ' ' || r1.s1 || r1.s2 || ' ') AS seq
           FROM w0, r1),
    p2 AS (
      SELECT sym[CAST(i AS INT)] AS s1, sym[CAST(i AS INT)+1] AS s2,
             CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT cnt, list_filter(string_split(seq, '  '),
                                    x -> x <> '') AS sym FROM w1),
           UNNEST(range(1, len(sym))) t(i)
      GROUP BY s1, s2),
    r2 AS (SELECT s1, s2, c FROM p2 ORDER BY c DESC, s1, s2 LIMIT 1),
    w2 AS (SELECT word, cnt,
           replace(seq, ' ' || r2.s1 || '  ' || r2.s2 || ' ',
                        ' ' || r2.s1 || r2.s2 || ' ') AS seq
           FROM w1, r2),
    p3 AS (
      SELECT sym[CAST(i AS INT)] AS s1, sym[CAST(i AS INT)+1] AS s2,
             CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT cnt, list_filter(string_split(seq, '  '),
                                    x -> x <> '') AS sym FROM w2),
           UNNEST(range(1, len(sym))) t(i)
      GROUP BY s1, s2),
    r3 AS (SELECT s1, s2, c FROM p3 ORDER BY c DESC, s1, s2 LIMIT 1)
    SELECT CAST(1 AS INTEGER) AS round, s1 AS left_sym, s2 AS right_sym,
           c AS pair_count FROM r1
    UNION ALL SELECT 2, s1, s2, c FROM r2
    UNION ALL SELECT 3, s1, s2, c FROM r3
    ORDER BY round
    """,
)
def q_c87_bpe_merge_rounds(spark, sf_dir):
    """C87 (extension): BPE TOKENIZER TRAINING, three merge rounds —
    the actual Sennrich et al. loop, not just one pair census (C51 is
    the single-pass pair stats; this ITERATES: count pairs, merge the
    winner everywhere, recount on the merged sequences). Output is the
    learned merge table (round, left, right, corpus-weighted count) —
    the artifact a tokenizer ships.

    The 100 TB argument is WHERE the loop runs: BPE training operates
    on the WORD-FREQUENCY table, never the corpus — the corpus
    contributes exactly one map-side-combined groupBy(token) count,
    after which every round touches |vocab| rows (Heaps-law sublinear
    in corpus size). Each round is: adjacent-pair explode over the
    symbol sequences (vocab-bounded), one keys-sized aggregation, a
    1-row argmax collected to the driver (k-sized materialization, the
    quantizer-collect class), and the merge applied as a plain
    string replace() — left-to-right non-overlapping scan, which IS
    greedy BPE merge order, identically in Spark and DuckDB (the
    oracle replays all three rounds as chained CTEs).

    Symbol sequences are DOUBLE-space joined with single-space flanks
    in the replace pattern (' a  b ' -> ' ab '): consecutive
    occurrences keep their boundary spaces, so 'a a a' merges to
    ('aa','a') exactly like reference BPE, and a pattern can never
    match inside a multi-char symbol."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        widen(d)
        .select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    w = vocab.withColumn(
        "seq",
        F.concat(
            F.lit("  "),
            F.array_join(
                F.filter(F.split("word", ""), lambda x: x != ""), "  "
            ),
            F.lit("  "),
        ),
    )
    rules = []
    for rnd in (1, 2, 3):
        sym = F.filter(F.split("seq", "  "), lambda x: x != "")
        # single-symbol words yield no pairs (sequence(1, 0) would turn
        # DESCENDING — the shingles() gotcha — so guard the whole expr)
        pair_arr = F.when(
            F.size(sym) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(sym) - 1),
                lambda i: F.struct(
                    F.element_at(sym, i).alias("s1"),
                    F.element_at(sym, i + 1).alias("s2"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<s1:string,s2:string>>")
        )
        pairs = w.select("cnt", F.explode(pair_arr).alias("p"))
        [top] = (
            pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .orderBy(F.col("c").desc(), "s1", "s2")
            .limit(1)
            .collect()
        )
        rules.append((rnd, top["s1"], top["s2"], top["c"]))
        w = w.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f" {top['s1']}  {top['s2']} "),
                F.lit(f" {top['s1']}{top['s2']} "),
            ),
        )
    return values_df(
        spark, rules,
        "round int, left_sym string, right_sym string, pair_count long",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# C92: CCNet-style perplexity buckets (head / middle / tail per language)
# ---------------------------------------------------------------------------


@query(
    "q_c92_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ), freq AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq
    ), doc AS (
      SELECT t.doc_id, t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(AVG(ln(CAST(f.n AS DOUBLE) / tot.total)), 6) AS score
      FROM tok t JOIN freq f ON t.token = f.token CROSS JOIN tot
      GROUP BY t.doc_id, t.lang
    ), tiled AS (
      SELECT doc_id, lang, n_tokens, score,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS tile
      FROM doc
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_score,
           MIN(score) AS min_score,
           MAX(score) AS max_score
    FROM tiled
    GROUP BY lang, tile
    ORDER BY lang, bucket
    """,
)
def q_c92_perplexity_buckets(spark, sf_dir):
    """C92 (extension): CCNet-style quality bucketing (Wenzek et al.
    2020) — per language, split the corpus into head / middle / tail
    TERTILES of language-model score (here the C26 unigram
    cross-entropy stand-in for a KenLM perplexity; head = most
    in-distribution). CCNet trains on head+middle and drops tail;
    the per-bucket report (doc counts, token mass, score range) is
    the go/no-go evidence for that cut.

    Exact NTILE without the per-language single-task window: a naive
    `NTILE OVER (PARTITION BY lang)` puts EVERY document of a
    language in one task — with 5 languages that is 5 tasks at any
    cluster size. Instead the per-language rank comes from the
    repo's two-phase prefix sum (sampling.running_total_before,
    weight=1) over sort_key = q6 * 1e11 + doc_id, where q6 =
    round(-score * 1e6): score is already 6-dp-rounded, so q6 is a
    monotone integer image of (score DESC) and bucket_size = 1e11
    makes the prefix-sum bucket EXACTLY q6 — a dense, value-bounded
    key (<= |distinct 6-dp scores|, ~1.3e7 worst case, independent of
    corpus size), the C78 bucketing fix applied per ADVICE r5. The
    serial offset window is bounded by the score domain, never by n;
    everything corpus-sized is hash-partitioned. rank -> tile uses
    the NTILE size formula (first n%3 tiles get one extra row), so
    the result is bit-identical to the oracle's NTILE.

    Preconditions (documented, same family as C78): doc_id < 1e11
    and score > -9.2e7/1e6 (any real LM logprob is > -100). At
    100 TB: one token explode, one vocab-sized join (AQE
    broadcast-or-shuffle, C26's reasoning), the two-phase rank, and
    a 15-row final aggregate; the KenLM scorer drops in by replacing
    the score expression with a mapInPandas scorer, ranks unchanged."""
    from etl_spark_eks_spark.operators.sampling import (
        running_total_before,
    )

    from pyspark.storagelevel import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    tok = widen(d).select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("token")
    )
    # Round 13 (verdict task 5, the WP1 barrier audit): doc feeds
    # three consumers (the prefix-sum bucket build, the n_l broadcast,
    # the final rank join) — unpersisted, each broadcast-build job
    # re-ran the whole explode+join+count pipeline (profiler: four
    # 33-task corpus explodes; two remain — freq's and doc's).
    # Persisting freq TOO was measured and REJECTED (3.7-5.6 s vs
    # 2.7 s): an InMemoryRelation hides the size estimate AQE uses to
    # keep the vocab join a broadcast, so the cached freq bought a
    # shuffle join that cost more than the explode it saved.
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    doc = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n").cast("double") / F.col("total"))),
                6,
            ).alias("score"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keyed = doc.withColumn(
        "sort_key",
        F.round(-F.col("score") * 1_000_000).cast("bigint")
        * F.lit(100_000_000_000).cast("bigint")
        + F.col("doc_id"),
    ).withColumn("one", F.lit(1).cast("bigint"))
    ranked = running_total_before(
        keyed,
        "sort_key",
        "one",
        bucket_size=100_000_000_000,
        partition_cols=("lang",),
    ).withColumn("rank", F.col("__cum_before").cast("bigint") + 1)
    n_l = doc.groupBy("lang").agg(F.count("*").alias("n_lang"))
    q = (F.col("n_lang") / 3).cast("bigint")
    r = F.col("n_lang") % 3
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    tile = F.when(
        F.col("rank") <= big,
        ((F.col("rank") - 1) / (q + 1)).cast("bigint") + 1,
    ).otherwise(
        r + ((F.col("rank") - 1 - big) / F.greatest(q, F.lit(1)))
        .cast("bigint") + 1
    )
    tiled = ranked.join(F.broadcast(n_l), "lang").withColumn(
        "tile", tile
    )
    return (
        tiled.groupBy("lang", "tile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum(F.col("score").cast("decimal(38,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            "lang",
            F.when(F.col("tile") == 1, "head")
            .when(F.col("tile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "total_tokens",
            "avg_score",
            "min_score",
            "max_score",
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# C95: Gopher quality rules (named per-rule gate with fire-rate report)
# ---------------------------------------------------------------------------

# Gopher's stop-word rule requires >=2 distinct members of a function-word
# list (canonically the/be/to/of/and/that/have/with). The synthetic fixture
# vocabulary contains only "the" from that list, which would make the rule
# fire on 100% of documents — degenerate, so the list is a parameter with
# the fixture-discriminating default below (measured: 50/500 docs fail at
# >=2-of-4; swap in the canonical list for English web corpora).
_GOPHER_STOPWORDS = ("the", "a", "data", "value")


def _gopher_fail_flags():
    """The seven Gopher rule FAIL predicates as named Catalyst columns
    over a (text) row — shared by q_c95 (per-lang fire counts) and
    q_c123 (ablation: exclusive vs redundant kills). One tokenize/split
    pass, array HOFs only, no UDF; see q_c95's docstring for the rule
    definitions and scale argument."""
    toks = tokenize("text")
    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda ln: ln != F.lit("")
    )
    wc = F.size(toks)
    mwl = (
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t).cast("bigint"),
        ).cast("double")
        / wc
    )
    sym = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ) + (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ")
            | ln.startswith("* ")
            | ln.startswith("• "),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda ln: ln.endswith("...") | ln.endswith("…"),
        )
    )
    n_lines = F.size(lines)
    alpha_toks = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in _GOPHER_STOPWORDS
    )
    return {
        "f_wc": (wc < 50) | (wc > 100000),
        "f_mwl": (mwl < 3) | (mwl > 10),
        "f_sym": sym / wc > 0.1,
        "f_bullet": bullet_lines > 0.9 * n_lines,
        "f_ellipsis": ellipsis_lines > 0.3 * n_lines,
        "f_alpha": alpha_toks < 0.8 * wc,
        "f_stop": n_stop < 2,
    }


@query(
    "q_c95_gopher_rules",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> l <> '') AS lines
      FROM documents
    ), m AS (
      SELECT doc_id, lang,
        len(toks) AS wc,
        CAST(list_sum(list_transform(toks,
             t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
          / len(toks) AS mwl,
        (length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3
          AS sym,
        len(list_filter(lines,
            l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
          AS bullet_lines,
        len(list_filter(lines,
            l -> l LIKE '%...' OR l LIKE '%…')) AS ellipsis_lines,
        len(lines) AS n_lines,
        len(list_filter(toks,
            t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_toks,
        CAST(list_contains(toks, 'the') AS INT)
          + CAST(list_contains(toks, 'a') AS INT)
          + CAST(list_contains(toks, 'data') AS INT)
          + CAST(list_contains(toks, 'value') AS INT) AS n_stop
      FROM d
    ), r AS (
      SELECT lang,
        CAST(wc < 50 OR wc > 100000 AS INT) AS f_wc,
        CAST(mwl < 3 OR mwl > 10 AS INT) AS f_mwl,
        CAST(sym / wc > 0.1 AS INT) AS f_sym,
        CAST(bullet_lines > 0.9 * n_lines AS INT) AS f_bullet,
        CAST(ellipsis_lines > 0.3 * n_lines AS INT) AS f_ellipsis,
        CAST(alpha_toks < 0.8 * wc AS INT) AS f_alpha,
        CAST(n_stop < 2 AS INT) AS f_stop
      FROM m
    )
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
      CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
      CAST(SUM(f_sym) AS BIGINT) AS fail_symbol_ratio,
      CAST(SUM(f_bullet) AS BIGINT) AS fail_bullet_lines,
      CAST(SUM(f_ellipsis) AS BIGINT) AS fail_ellipsis_lines,
      CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_words,
      CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
      CAST(SUM(CAST(f_wc + f_mwl + f_sym + f_bullet + f_ellipsis
                    + f_alpha + f_stop = 0 AS INT)) AS BIGINT) AS n_kept,
      ROUND(CAST(SUM(CAST(f_wc + f_mwl + f_sym + f_bullet + f_ellipsis
                          + f_alpha + f_stop = 0 AS INT)) AS DOUBLE)
            / COUNT(*), 6) AS kept_rate
    FROM r
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_c95_gopher_rules(spark, sf_dir):
    """C95 (extension): the Gopher document-quality rules (Rae et al.
    2021, Appendix A — the gate reused by MassiveText, RefinedWeb and
    Dolma) as one single-pass named-rule report per language: word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio (# and ellipsis) <= 0.1, <90% bullet-point lines, <=30%
    ellipsis-terminated lines, >=80% words containing an alphabetic
    character, and >=2 distinct stop words. Unlike C10's scalar
    quality score or C54's generic ensemble, the output here is the
    per-RULE fire count — the corpus-triage view that tells you which
    named rule is responsible for the drop mass before you commit to
    the gate.

    All seven rules are Catalyst expressions over one tokenize/split
    pass — array higher-order functions (aggregate/filter/
    array_contains), no UDF, no explode: per-doc metrics never leave
    the scan partition, and the only shuffle is the final
    lang-grouped aggregate with map-side combine (5 langs x 10
    columns). At 100 TB this is a single streaming scan; rule
    thresholds are literals so Parquet readers prune to (text, lang)
    only. Ties to the oracle are exact: counts are integer, the two
    ratio thresholds compare identically-derived doubles, and
    kept_rate rounds a small-int division.

    Reference scope: the reference's single job (pyspark-taxi-trip.py)
    has no text gate; this extends the C10/C49/C52/C54 quality ladder
    with the canonical named rule set (SURVEY §2 C-tier)."""
    d = load_table(spark, sf_dir, "documents")
    fails = _gopher_fail_flags()
    m = widen(d).select(
        "lang", *[v.cast("int").alias(k) for k, v in fails.items()]
    )
    kept = (
        sum(F.col(k) for k in fails) == 0
    ).cast("int")
    return (
        m.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_wc").cast("bigint").alias("fail_word_count"),
            F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
            F.sum("f_sym").cast("bigint").alias("fail_symbol_ratio"),
            F.sum("f_bullet").cast("bigint").alias("fail_bullet_lines"),
            F.sum("f_ellipsis").cast("bigint").alias(
                "fail_ellipsis_lines"
            ),
            F.sum("f_alpha").cast("bigint").alias("fail_alpha_words"),
            F.sum("f_stop").cast("bigint").alias("fail_stopwords"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(kept).cast("double") / F.count("*"), 6
            ).alias("kept_rate"),
        )
        .orderBy("lang")
    )


@query(
    "q_c99_calibration_bins",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(token), 1, 8))::BIGINT % 256) AS fidx
      FROM toks
    ),
    weights AS (
      SELECT i AS fidx,
             (((('0x' || substr(md5('w' || CAST(i AS VARCHAR)), 1, 8))
                ::BIGINT % 2001) - 1000) / 1000.0) AS w
      FROM generate_series(0, 255) t(i)
    ),
    s AS (
      SELECT doc_id, SUM(w) AS logit
      FROM feats JOIN weights USING (fidx)
      GROUP BY doc_id
    ),
    probs AS (
      SELECT doc_id, ROUND(1 / (1 + EXP(-(logit - 0.1))), 6) AS prob
      FROM s
    ),
    labels AS (
      SELECT doc_id,
             CAST(len(t.toks) BETWEEN 20 AND 1000
                  AND CAST(len(list_distinct(t.toks)) AS DOUBLE)
                      / len(t.toks) >= 0.3 AS INT) AS y
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM documents) t
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(prob * 10) AS INT), 9) AS bin, prob, y
      FROM probs JOIN labels USING (doc_id)
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ROUND(prob * 1000000, 0) AS BIGINT))
                AS BIGINT) AS sum_pred_micros,
           CAST(SUM(y) AS BIGINT) AS n_label,
           CAST(ABS(SUM(CAST(ROUND(prob * 1000000, 0) AS BIGINT))
                    - SUM(y) * 1000000) AS BIGINT) AS gap_micros
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_c99_calibration_bins(spark, sf_dir):
    """C99: quality-classifier CALIBRATION audit — the reliability
    table behind an ECE number. C49 serves the model's probability and
    C54 thresholds it; before a pipeline trusts `prob >= 0.5` as a
    keep gate, this checks whether the probabilities MEAN anything:
    docs are binned by predicted probability (10 equal-width bins, top
    bin closed) and each bin reports predicted mass vs the observed
    rate of a reference label. The reference label is C10's hand-rule
    verdict — rule-vs-model disagreement per confidence band is
    exactly the audit that decides whether to recalibrate (Platt/
    isotonic) or retrain before a 100 TB filtering run; the expected
    calibration error is sum(n_docs/N * abs_gap) off this table.

    Numerics: the table is INTEGER-EXACT (the q_b122 micros
    discipline). Per-doc probs are 6dp-rounded doubles (C49's
    contract), so ROUND(prob*1e6) recovers the exact integer micro
    count per doc; bin sums, label counts and the calibration gap
    (|sum_pred_micros - 1e6*n_label|) are then BIGINT arithmetic with
    no tie anywhere. The obvious alternative — ROUND(sum/n, 6) rates —
    was MEASURED to diverge cross-engine at sf0.001 (a bin average
    landing exactly on a 6th-decimal .5: Spark's BigDecimal HALF_UP
    on the shortest repr vs DuckDB's libm rounding split 0.651411 /
    0.65141). Rates and ECE derive downstream: avg_pred =
    sum_pred_micros/(1e6*n_docs), ECE = sum(gap_micros)/(1e6*N). The
    bin id floors prob*10 in double on both sides — identical IEEE
    input, identical floor.

    Scale: reuses C49's serving plan (broadcast 256-weight join, one
    partial-aggregated per-doc exchange); the label rule is a per-row
    projection in the same documents scan; the bin rollup is a 10-row
    aggregate. Nothing new shuffles at corpus scale beyond C49
    itself."""
    d = load_table(spark, sf_dir, "documents")
    probs = classifier_quality_prob(spark, d)
    stats = token_stats(F.col("text"))
    labels = d.select(
        "doc_id",
        (
            stats["n_tokens"].between(20, 1000)
            & (stats["distinct_ratio"] >= 0.3)
        )
        .cast("int")
        .alias("y"),
    )
    binned = probs.join(labels, "doc_id").select(
        F.least(
            F.floor(F.col("prob") * 10).cast("int"), F.lit(9)
        ).alias("bin"),
        "prob",
        "y",
    )
    micros = F.round(F.col("prob") * 1_000_000, 0).cast("long")
    sum_pred = F.sum(micros)
    n_label = F.sum("y")
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            sum_pred.cast("long").alias("sum_pred_micros"),
            n_label.cast("long").alias("n_label"),
            F.abs(sum_pred - n_label * 1_000_000)
            .cast("long")
            .alias("gap_micros"),
        )
        .orderBy("bin")
    )


_VOCAB_CUTS = (256, 1024, 4096, 16384)


@query(
    "q_c100_vocab_coverage_curve",
    oracle=f"""
    WITH freq AS (
      SELECT token, COUNT(*) AS occurrences
      FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      t -> t <> '')) AS token
            FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT occurrences,
             ROW_NUMBER() OVER (ORDER BY occurrences DESC, token) AS rnk
      FROM freq
    ),
    tot AS (SELECT SUM(occurrences) AS total, COUNT(*) AS vocab
            FROM ranked)
    SELECT k,
           CAST(LEAST(k, (SELECT vocab FROM tot)) AS BIGINT)
             AS vocab_used,
           CAST((SELECT SUM(occurrences) FROM ranked WHERE rnk <= k)
                AS BIGINT) AS covered_occurrences,
           ROUND(CAST((SELECT SUM(occurrences) FROM ranked
                       WHERE rnk <= k) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS coverage
    FROM (VALUES {", ".join(f"({k})" for k in _VOCAB_CUTS)}) cuts(k)
    ORDER BY k
    """,
)
def q_c100_vocab_coverage_curve(spark, sf_dir):
    """C100: vocabulary COVERAGE CURVE — corpus token mass covered by
    the top-k vocabulary entries at candidate vocab sizes (256 / 1k /
    4k / 16k). The vocab-size decision audit for tokenizer training:
    C48 shows mass per frequency BAND, C77 audits a FIXED vocab's OOV
    rate; this answers "how big must the vocab be" directly — the k
    where the curve flattens is the budget, and everything past it
    buys only tail tokens (the C87 BPE merges then spend that budget).

    Plan shape: the corpus's only shuffle is the token-frequency agg
    (map-side combined); the global rank window runs on the VOCAB
    table — the n -> |V| contraction comes first, the C77/C48
    discipline (sub-linear in corpus, the single-partition window is
    over the contracted table and allowlisted as such). The four cut
    points are CONDITIONAL SUMS in one 1-row aggregate over the
    ranked vocab — no cuts-dim join, no re-scan per k; the row-per-k
    presentation unions four selects of that one cached-size row.

    Exact: integer occurrence sums; coverage rounds the one division
    at the edge."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        widen(d)
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
    )
    w = Window.orderBy(F.col("occurrences").desc(), "token")
    ranked = freq.withColumn("rnk", F.row_number().over(w))
    one = ranked.agg(
        F.sum("occurrences").alias("total"),
        F.count("*").alias("vocab"),
        *[
            F.sum(
                F.when(F.col("rnk") <= k, F.col("occurrences")).otherwise(
                    F.lit(0)
                )
            ).alias(f"cov_{k}")
            for k in _VOCAB_CUTS
        ],
    )
    rows = None
    for k in _VOCAB_CUTS:
        r = one.select(
            F.lit(k).alias("k"),
            F.least(F.lit(k).cast("long"), F.col("vocab")).alias(
                "vocab_used"
            ),
            F.col(f"cov_{k}").cast("long").alias("covered_occurrences"),
            F.round(
                F.col(f"cov_{k}").cast("double") / F.col("total"), 6
            ).alias("coverage"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("k")


@query(
    "q_c101_source_divergence_matrix",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    counts AS (
      SELECT source, token, COUNT(*) AS n
      FROM toks GROUP BY source, token
    ),
    totals AS (
      SELECT source, SUM(n) AS nt, COUNT(*) AS vs
      FROM counts GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.nt AS na_tot, b.nt AS nb_tot, a.vs AS va, b.vs AS vb
      FROM totals a, totals b WHERE a.source < b.source
    ),
    inter AS (
      SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS i
      FROM counts x JOIN counts y USING (token)
      WHERE x.source < y.source
      GROUP BY x.source, y.source
    ),
    vab AS (
      SELECT p.src_a, p.src_b, p.na_tot, p.nb_tot,
             p.va + p.vb - COALESCE(i.i, 0) AS v
      FROM pairs p LEFT JOIN inter i
        ON p.src_a = i.src_a AND p.src_b = i.src_b
    ),
    terms AS (
      SELECT v.src_a, v.src_b, v.v,
             (COALESCE(xa.n, 0) + 1.0) / (v.na_tot + v.v) AS pa,
             (COALESCE(xb.n, 0) + 1.0) / (v.nb_tot + v.v) AS pb
      FROM vab v
      CROSS JOIN (SELECT DISTINCT token FROM counts) t
      LEFT JOIN counts xa
        ON xa.token = t.token AND xa.source = v.src_a
      LEFT JOIN counts xb
        ON xb.token = t.token AND xb.source = v.src_b
      WHERE xa.n IS NOT NULL OR xb.n IS NOT NULL
    )
    SELECT src_a, src_b,
           CAST(MAX(v) AS BIGINT) AS n_union_vocab,
           ROUND(SUM(0.5 * (pa * ln(2 * pa / (pa + pb))
                            + pb * ln(2 * pb / (pa + pb)))), 6) AS jsd
    FROM terms
    GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
)
def q_c101_source_divergence_matrix(spark, sf_dir):
    """C101: pairwise SOURCE-DIVERGENCE matrix — Jensen-Shannon
    divergence between every pair of per-source unigram language
    models (add-one smoothing over each pair's UNION vocabulary).
    The mixture-design audit: C23/C40/C84 decide how much of each
    source to take, C41 watches one source drift over time, C59
    checks train-vs-val — this says which sources are near-duplicate
    DISTRIBUTIONS (merge their quotas) and which are genuine
    diversity (protect them), before mixture weights are spent.
    C83's shingle-overlap matrix is the lexical containment view;
    JSD here is the probability view the sampling literature scores.

    Shape (the C83 contraction discipline): the corpus is touched by
    ONE token count (map-side combined); everything pairwise runs on
    the CONTRACTED vocab table — per-token source maps crossJoin the
    broadcast 190-row pair dim (vocab x k^2 map-side, no corpus
    re-scan), the union-vocab sizes come from a per-token
    within-map pair expansion (sum of |sources-per-token| choose 2
    rows, not vocab x k^2), and the k-sized totals/vocab/intersection
    tables assemble the pair dim on the driver (k=20 sources -> 190
    rows). Two vocab-sided aggregates total.

    Numerics: pa/pb are identical integer-derived doubles on both
    engines; the JSD sum is the one order-sensitive reduction and
    rounds at the edge (C26/C52's measured ln/sum-order contract).
    JSD in nats, bounded by ln 2 ~= 0.6931; the fixture matrix spans
    ~0.15-0.35 — both near and far pairs carry signal."""
    from pyspark.storagelevel import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "source", F.explode(tokenize("text")).alias("token")
    )
    # Round 13 (verdict task 5): counts feeds tokmap + the totals
    # collect, and tokmap feeds the inter collect + the final
    # crossJoin — unpersisted, the two driver pulls and the final job
    # each re-ran the corpus explode + count. Persist the CONTRACTED
    # tables (vocab x sources / vocab rows); the corpus is now touched
    # by exactly one token count, as the docstring promises.
    counts = (
        toks.groupBy("token", "source")
        .agg(F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tokmap = counts.groupBy("token").agg(
        F.map_from_entries(
            F.collect_list(F.struct("source", "n"))
        ).alias("m")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    totals = {
        r["source"]: (r["nt"], r["vs"])
        for r in counts.groupBy("source")
        .agg(F.sum("n").alias("nt"), F.count("*").alias("vs"))
        .collect()
    }
    inter = {
        (r["src_a"], r["src_b"]): r["i"]
        for r in tokmap.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.map_keys("m"),
                            lambda a: F.transform(
                                F.map_keys("m"),
                                lambda b: F.struct(
                                    a.alias("src_a"), b.alias("src_b")
                                ),
                            ),
                        )
                    ),
                    lambda s: s["src_a"] < s["src_b"],
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("i"))
        .collect()
    }
    srcs = sorted(totals)
    pair_rows = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            na_tot, va = totals[a]
            nb_tot, vb = totals[b]
            v = va + vb - inter.get((a, b), 0)
            pair_rows.append((a, b, na_tot, nb_tot, v))
    pairs = F.broadcast(
        values_df(
            spark, pair_rows,
            "src_a string, src_b string, na_tot long, nb_tot long, v long",
        )
    )
    t = tokmap.crossJoin(pairs).select(
        "src_a",
        "src_b",
        "v",
        (
            (F.coalesce(F.element_at("m", F.col("src_a")), F.lit(0)) + 1.0)
            / (F.col("na_tot") + F.col("v"))
        ).alias("pa"),
        (
            (F.coalesce(F.element_at("m", F.col("src_b")), F.lit(0)) + 1.0)
            / (F.col("nb_tot") + F.col("v"))
        ).alias("pb"),
        (
            F.element_at("m", F.col("src_a")).isNotNull()
            | F.element_at("m", F.col("src_b")).isNotNull()
        ).alias("in_union"),
    )
    term = 0.5 * (
        F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + F.col("pb")
        * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    return (
        t.where("in_union")
        .groupBy("src_a", "src_b")
        .agg(
            F.max("v").cast("long").alias("n_union_vocab"),
            F.round(F.sum(term), 6).alias("jsd"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "q_c104_lang_confusion_matrix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    p AS (
      SELECT lang AS lang_actual,
             {{PRED}} AS lang_pred
      FROM t
    )
    SELECT lang_actual, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY lang_actual)
                AS BIGINT) AS n_actual_total,
           lang_actual = lang_pred AS is_agreement
    FROM p
    GROUP BY lang_actual, lang_pred
    ORDER BY lang_actual, lang_pred
    """.replace("{{PRED}}", "{PRED}").replace("{PRED}", _LANG_PRED_SQL),
)
def q_c104_lang_confusion_matrix(spark, sf_dir):
    """C104: LABEL-QUALITY confusion matrix — the declared `lang`
    column crossed with C13's content-based prediction, one row per
    observed (declared, predicted) cell with counts and the declared
    row total. This is the metadata-audit step upstream mixing
    depends on: C23/C84 allocate token budgets BY the lang label, so
    a scrape whose labels drift (wrong Accept-Language headers, CMS
    defaults) silently misallocates the mixture — the off-diagonal
    mass here is the first number that catches it. C13 emits the
    per-doc prediction; this is its corpus-level rollup against the
    label, the same report a fasttext-based lang-id would feed.

    Integer-only output (the C99/C103 discipline): cell count and
    row total ship as BIGINTs, disagreement rate = 1 - n_diag/total
    derives downstream; `is_agreement` marks the diagonal for cheap
    filtering. The prediction expression is SHARED with C13 (one
    definition, both oracles) so the two operators cannot drift.

    Scale: the per-doc prediction is a projection in the documents
    scan (marker arrays are literals — no join, no broadcast, no
    shuffle for scoring); the only exchange is the <=36-cell
    confusion rollup plus its row-total window over that tiny
    table."""
    d = load_table(spark, sf_dir, "documents")
    pred = lang_pred_expr(tokenize(F.col("text")))
    cells = (
        d.select(
            F.col("lang").alias("lang_actual"), pred.alias("lang_pred")
        )
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("lang_actual")
    return (
        cells.withColumn(
            "n_actual_total", F.sum("n_docs").over(w).cast("long")
        )
        .withColumn(
            "is_agreement", F.col("lang_actual") == F.col("lang_pred")
        )
        .orderBy("lang_actual", "lang_pred")
    )


@query(
    "q_c105_quality_rate_confidence",
    oracle=r"""
    WITH base AS (
      SELECT source, text FROM documents
      UNION ALL
      -- planted degraded feed: truncated pages that fail the length
      -- rule, so the flag path carries real mass (the C15 lesson)
      SELECT 'src_degraded' AS source,
             array_to_string(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')[1:10], ' ') AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (
      SELECT source,
             CASE WHEN len(toks) BETWEEN 20 AND 1000
                   AND CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) >= 0.3
                  THEN 1 ELSE 0 END AS ok
      FROM (SELECT source,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM base)
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ok) AS BIGINT) AS k
      FROM t GROUP BY source
    ),
    tot AS (SELECT SUM(k) AS tk, SUM(n) AS tn FROM per),
    w AS (
      SELECT source, n, k,
             CAST(k AS DOUBLE) / n AS p,
             1.959963984540054 AS z
      FROM per
    )
    SELECT source, n, k,
           ROUND(p, 6) AS pass_rate,
           ROUND((p + z*z/(2*n)
                  - z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
                 / (1 + z*z/n), 6) AS wilson_low,
           ROUND((p + z*z/(2*n)
                  + z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
                 / (1 + z*z/n), 6) AS wilson_high,
           (p + z*z/(2*n)
            + z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
           / (1 + z*z/n)
             < (SELECT CAST(tk AS DOUBLE) / tn FROM tot)
             AS significantly_below_corpus
    FROM w ORDER BY source
    """,
)
def q_c105_quality_rate_confidence(spark, sf_dir):
    """C105: per-source quality pass-rate with WILSON 95% bounds —
    the statistical layer on top of C10's gate: a source with 40
    docs and a 0.55 pass rate is NOT evidence of a bad source, and
    a naive rate ranking (C41/C95's descriptive counts) can't say
    which low rates are real. A planted degraded feed (truncated
    pages under 'src_degraded', mirrored in the oracle) keeps the
    flag path non-vacuous at every scale. The Wilson score interval is the
    small-n-safe choice (normal-approximation intervals collapse at
    p near 0/1 and small n — exactly the new-source shape); the
    actionable flag marks sources whose UPPER bound sits below the
    corpus-wide rate — low even under the most favorable reading,
    the defensible cut before quarantining a feed at 100 TB.

    Numerics: n and k ship as exact BIGINTs; the interval arithmetic
    is identical closed-form double math on both engines (same z
    literal, same expression tree — sqrt/division outputs are not on
    a rounding-tie grid, the C52 ln precedent) with one 6dp edge
    round; the flag compares UNROUNDED doubles that both engines
    derive from the same integers, so it cannot straddle a rounded
    boundary.

    Scale: one pass — the gate is a per-row projection, the rollup
    is |sources| rows, the corpus rate is a 1-row fold crossed back
    broadcast. Nothing else moves."""
    d = load_table(spark, sf_dir, "documents")
    degraded = d.where(F.col("doc_id") % 5 == 0).select(
        F.lit("src_degraded").alias("source"),
        F.array_join(F.slice(tokenize("text"), 1, 10), " ").alias(
            "text"
        ),
    )
    base = widen(d.select("source", "text")).unionByName(degraded)
    stats = token_stats(F.col("text"))
    t = base.select(
        "source",
        (
            stats["n_tokens"].between(20, 1000)
            & (stats["distinct_ratio"] >= 0.3)
        )
        .cast("int")
        .alias("ok"),
    )
    per = t.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ok").cast("long").alias("k"),
    )
    tot = per.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("corpus_rate")
    )
    z = 1.959963984540054
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    center = p + z * z / (2 * n)
    halfw = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    hi = (center + halfw) / denom
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n",
            "k",
            F.round(p, 6).alias("pass_rate"),
            F.round((center - halfw) / denom, 6).alias("wilson_low"),
            F.round(hi, 6).alias("wilson_high"),
            (hi < F.col("corpus_rate")).alias(
                "significantly_below_corpus"
            ),
        )
        .orderBy("source")
    )


_C106_THRESHOLDS = tuple(range(1, 10))  # 0.1 .. 0.9


@query(
    "q_c106_threshold_selection",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(token), 1, 8))::BIGINT % 256) AS fidx
      FROM toks
    ),
    weights AS (
      SELECT i AS fidx,
             (((('0x' || substr(md5('w' || CAST(i AS VARCHAR)), 1, 8))
                ::BIGINT % 2001) - 1000) / 1000.0) AS w
      FROM generate_series(0, 255) t(i)
    ),
    probs AS (
      SELECT doc_id, ROUND(1 / (1 + EXP(-(SUM(w) - 0.1))), 6) AS prob
      FROM feats JOIN weights USING (fidx) GROUP BY doc_id
    ),
    labels AS (
      SELECT doc_id,
             CAST(len(t.toks) BETWEEN 20 AND 1000
                  AND CAST(len(list_distinct(t.toks)) AS DOUBLE)
                      / len(t.toks) >= 0.3 AS INT) AS y
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM documents) t
    ),
    scored AS (SELECT prob, y FROM probs JOIN labels USING (doc_id)),
    cm AS (
      SELECT th.t AS threshold_decipct,
             CAST(SUM(CASE WHEN prob >= th.t / 10.0 AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN prob >= th.t / 10.0 AND y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN prob < th.t / 10.0 AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN prob < th.t / 10.0 AND y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored, generate_series(1, 9) th(t)
      GROUP BY th.t
    )
    SELECT threshold_decipct, tp, fp, fn, tn,
           NOT EXISTS (
             SELECT 1 FROM cm o
             WHERE 2*o.tp * (2*cm.tp + cm.fp + cm.fn)
                   > 2*cm.tp * (2*o.tp + o.fp + o.fn)
                OR (2*o.tp * (2*cm.tp + cm.fp + cm.fn)
                    = 2*cm.tp * (2*o.tp + o.fp + o.fn)
                    AND o.threshold_decipct < cm.threshold_decipct)
           ) AS is_best_f1
    FROM cm ORDER BY threshold_decipct
    """,
)
def q_c106_threshold_selection(spark, sf_dir):
    """C106: OPERATING-POINT selection for the quality classifier —
    the step between C49 (scores) and C54 (a gate that assumes a
    threshold): sweep candidate thresholds, compute each one's full
    confusion against C10's reference label, and mark the F1-argmax.
    Shipping prob >= 0.5 unexamined is how a filtering run silently
    trades precision it needed for recall it didn't; this emits the
    whole operating curve (the consumer can re-argmax for any
    F-beta) plus the defensible default.

    Integer-exact end to end (the C99/C103 discipline): the sweep is
    one conditional aggregate — per (threshold, cell) CASE sums over
    the scored docs, no re-scan per threshold — and the F1 argmax is
    INTEGER CROSS-MULTIPLICATION between candidates
    (2tp_a(2tp_b+fp_b+fn_b) vs 2tp_b(...)), tie broken toward the
    lower threshold, so no float F1 is ever materialized and the
    boolean cannot straddle a rounding boundary. The per-doc prob
    threshold compare uses the 6dp-rounded prob against exact-decimal
    cutoffs (t/10 in double is identical IEEE on both engines).

    Scale: C49's serving plan (broadcast weight join, one per-doc
    exchange) + a 9-threshold conditional rollup to 9 rows; the
    argmax is 9x9 driver-free SQL over the tiny table."""
    d = load_table(spark, sf_dir, "documents")
    probs = classifier_quality_prob(spark, d)
    stats = token_stats(F.col("text"))
    labels = d.select(
        "doc_id",
        (
            stats["n_tokens"].between(20, 1000)
            & (stats["distinct_ratio"] >= 0.3)
        )
        .cast("int")
        .alias("y"),
    )
    scored = probs.join(labels, "doc_id")
    aggs = []
    for t in _C106_THRESHOLDS:
        cut = t / 10.0
        keep = F.col("prob") >= cut
        y1 = F.col("y") == 1
        aggs += [
            F.sum((keep & y1).cast("long")).alias(f"tp_{t}"),
            F.sum((keep & ~y1).cast("long")).alias(f"fp_{t}"),
            F.sum((~keep & y1).cast("long")).alias(f"fn_{t}"),
            F.sum((~keep & ~y1).cast("long")).alias(f"tn_{t}"),
        ]
    one = scored.agg(*aggs).first()
    cm = [
        (
            t,
            one[f"tp_{t}"],
            one[f"fp_{t}"],
            one[f"fn_{t}"],
            one[f"tn_{t}"],
        )
        for t in _C106_THRESHOLDS
    ]

    def denom(r):
        return 2 * r[1] + r[2] + r[3]

    def beats(a, b):
        lhs, rhs = 2 * a[1] * denom(b), 2 * b[1] * denom(a)
        return lhs > rhs or (lhs == rhs and a[0] < b[0])

    rows = [
        (t, tp, fp, fn, tn, not any(beats(o, r) for o in cm if o is not r))
        for r in cm
        for (t, tp, fp, fn, tn) in [r]
    ]
    return values_df(
        spark, rows,
        "threshold_decipct int, tp long, fp long, fn long, tn long, "
        "is_best_f1 boolean",
    ).orderBy("threshold_decipct")


@query(
    "q_c115_truncation_loss_audit",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split_regex(text, '\s+'),
                             t -> t <> '')) AS n
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE n > 128) AS BIGINT)
             AS docs_cut_128,
           CAST(COALESCE(SUM(n - 128) FILTER (WHERE n > 128), 0)
                AS BIGINT) AS tokens_lost_128,
           CAST(COUNT(*) FILTER (WHERE n > 256) AS BIGINT)
             AS docs_cut_256,
           CAST(COALESCE(SUM(n - 256) FILTER (WHERE n > 256), 0)
                AS BIGINT) AS tokens_lost_256,
           CAST(COUNT(*) FILTER (WHERE n > 512) AS BIGINT)
             AS docs_cut_512,
           CAST(COALESCE(SUM(n - 512) FILTER (WHERE n > 512), 0)
                AS BIGINT) AS tokens_lost_512
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
)
def q_c115_truncation_loss_audit(spark, sf_dir):
    """C115 (extension): context-window truncation-loss audit — per
    source, how many documents exceed each candidate sequence length
    (128/256/512 at fixture scale; 2k/8k/32k in production) and how
    many tokens a truncate-at-L loader would THROW AWAY. This is the
    number that decides between truncation and C110's chunk packing:
    truncation is simpler and keeps attention contiguous, but if one
    source loses 40% of its tokens at the chosen L, its long-form
    distribution silently vanishes from the model — the audit makes
    that loss a read-off instead of a surprise. Reported per source
    because length distributions differ by an order of magnitude
    across feeds (code vs chat vs books), so a global number hides
    exactly the source the decision is about.

    One conditional-aggregate pass (the B159 FILTER discipline —
    every ladder rung shares the single token-count projection; no
    explode, no second scan), integer-exact throughout.

    Scale: size(tokenize()) stays inside the scan projection; the
    only shuffle is the |sources|-key rollup, map-side combined.
    Adding a rung is one more FILTER pair, not a pass."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokenize("text"))
    base = widen(d).select("source", n.alias("n"))
    cols = [
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    ]
    for lim in (128, 256, 512):
        over = F.col("n") > lim
        cols.append(
            F.count(F.when(over, True)).cast("long").alias(f"docs_cut_{lim}")
        )
        cols.append(
            F.coalesce(F.sum(F.when(over, F.col("n") - lim)), F.lit(0))
            .cast("long")
            .alias(f"tokens_lost_{lim}")
        )
    return base.groupBy("source").agg(*cols).orderBy("source")


@query(
    "q_c121_score_rank_normalize",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_distinct(list_filter(
                 string_split_regex(text, '\s+'), t -> t <> '')))
               * 1000000
               // len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS q_ppm
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'),
                            t -> t <> '')) > 0
    ), ranked AS (
      SELECT doc_id, source, q_ppm,
             RANK() OVER (PARTITION BY source ORDER BY q_ppm, doc_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source, CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(rk * 1000000 // n AS BIGINT) AS pctile_ppm
    FROM ranked
    """,
)
def q_c121_score_rank_normalize(spark, sf_dir):
    """C121 (extension): per-source RANK NORMALIZATION of a quality
    score — replace each doc's raw score by its within-source
    percentile, so one global threshold means the same thing in every
    feed. Raw score distributions differ per source by construction
    (a code crawl's distinct-token ratio lives in a different range
    than a chat log's), so thresholding raw scores with one number
    silently filters sources at wildly different rates — the calib-
    ration bug C99/C105 DETECT; this is the transform that REMOVES
    it. Keeping "top 30% of each source" is one predicate on the
    normalized column (pctile_ppm > 700000).

    Integer-exact end-to-end: the raw score is quantized to ppm with
    integer DIV (the C92 discipline — no float ratio crosses the
    engine boundary), the percentile is rank·1e6 DIV n under a
    TOTAL order (q_ppm, then doc_id — the tiebreak makes every rank
    unique and rerun-stable), so every value hash-matches. The rank
    is cast BIGINT before the 1e6 multiply: rank() returns INT and
    any source past ~2,147 docs overflows under ANSI — caught by the
    10x scale probe, the exact failure class the probe family exists
    to surface before a cluster does.

    Scale: ONE keyed window per source (never a global sort — the
    source key partitions it) over a projection-only scored table;
    at 100 TB the window is the only exchange, on exactly the column
    set (source, q_ppm, doc_id)."""
    toks = tokenize("text")
    d = load_table(spark, sf_dir, "documents")
    scored = (
        widen(d)
        .select(
            "doc_id",
            "source",
            F.size(toks).alias("n"),
            F.size(F.array_distinct(toks)).alias("nd"),
        )
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "source",
            # nd is size() = INT: cast before the 1e6 multiply (the
            # same ANSI-overflow class the 10x probe caught in the
            # rank arm; a >2,147-distinct-token doc would trip this)
            F.expr("cast(nd as bigint) * 1000000 div n").alias("q_ppm"),
        )
    )
    w_rk = Window.partitionBy("source").orderBy("q_ppm", "doc_id")
    w_n = Window.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        F.col("q_ppm").cast("long").alias("q_ppm"),
        F.expr(
            "cast(rank() over (partition by source"
            " order by q_ppm, doc_id) as bigint) * 1000000"
        ).alias("__num"),
        F.count("*").over(w_n).alias("__n"),
    ).select(
        "doc_id",
        "source",
        "q_ppm",
        F.expr("__num div __n").cast("long").alias("pctile_ppm"),
    )


@query(
    "q_c123_gate_ablation_report",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> l <> '') AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        len(toks) AS wc,
        CAST(list_sum(list_transform(toks,
             t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
          / len(toks) AS mwl,
        (length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3
          AS sym,
        len(list_filter(lines,
            l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
          AS bullet_lines,
        len(list_filter(lines,
            l -> l LIKE '%...' OR l LIKE '%…')) AS ellipsis_lines,
        len(lines) AS n_lines,
        len(list_filter(toks,
            t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_toks,
        CAST(list_contains(toks, 'the') AS INT)
          + CAST(list_contains(toks, 'a') AS INT)
          + CAST(list_contains(toks, 'data') AS INT)
          + CAST(list_contains(toks, 'value') AS INT) AS n_stop
      FROM d
    ), r AS (
      SELECT
        CAST(wc < 50 OR wc > 100000 AS INT) AS f_wc,
        CAST(mwl < 3 OR mwl > 10 AS INT) AS f_mwl,
        CAST(sym / wc > 0.1 AS INT) AS f_sym,
        CAST(bullet_lines > 0.9 * n_lines AS INT) AS f_bullet,
        CAST(ellipsis_lines > 0.3 * n_lines AS INT) AS f_ellipsis,
        CAST(alpha_toks < 0.8 * wc AS INT) AS f_alpha,
        CAST(n_stop < 2 AS INT) AS f_stop
      FROM m
    ), t AS (
      SELECT r.*, f_wc + f_mwl + f_sym + f_bullet + f_ellipsis
                  + f_alpha + f_stop AS n_failed
      FROM r
    )
    SELECT 'f_alpha' AS rule, CAST(SUM(f_alpha) AS BIGINT) AS n_fired,
           CAST(COALESCE(SUM(f_alpha) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) AS n_exclusive FROM t
    UNION ALL SELECT 'f_bullet', CAST(SUM(f_bullet) AS BIGINT),
           CAST(COALESCE(SUM(f_bullet) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT 'f_ellipsis', CAST(SUM(f_ellipsis) AS BIGINT),
           CAST(COALESCE(SUM(f_ellipsis) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT 'f_mwl', CAST(SUM(f_mwl) AS BIGINT),
           CAST(COALESCE(SUM(f_mwl) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT 'f_stop', CAST(SUM(f_stop) AS BIGINT),
           CAST(COALESCE(SUM(f_stop) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT 'f_sym', CAST(SUM(f_sym) AS BIGINT),
           CAST(COALESCE(SUM(f_sym) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT 'f_wc', CAST(SUM(f_wc) AS BIGINT),
           CAST(COALESCE(SUM(f_wc) FILTER (WHERE n_failed = 1), 0)
                AS BIGINT) FROM t
    UNION ALL SELECT '__any__',
           CAST(COUNT(*) FILTER (WHERE n_failed > 0) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE n_failed = 1) AS BIGINT) FROM t
    ORDER BY rule
    """,
)
def q_c123_gate_ablation_report(spark, sf_dir):
    """C123 (extension): quality-gate ABLATION — per Gopher rule, how
    many documents it fires on (C95's number) and how many it kills
    EXCLUSIVELY (docs failing that rule and no other). For an
    OR-combined gate the exclusive count IS the rule's marginal
    contribution: remove the rule and exactly those docs come back.
    A rule whose fires are all shared with other rules is pure
    redundancy (n_fired high, n_exclusive 0 — delete it and nothing
    changes); a rule with high exclusive mass is load-bearing and
    deserves its own threshold review. The '__any__' row gives the
    gate's total kill and its single-rule fraction — the two numbers
    that decide whether the gate needs seven rules or three. C95
    reports WHERE the mass is; this reports WHAT EACH RULE BUYS —
    the rule-set engineering view.

    Shape: the SAME single scan and rule expressions as C95
    (factored: _gopher_fail_flags — one source of truth for the rule
    definitions, so the two reports can never drift), one global
    conditional-aggregate fold (B159's FILTER discipline), reshaped
    to 8 rows driver-side from the 1-row fold. Integer-exact.

    Scale: identical to C95 — one streaming scan, one 16-column
    map-side-combined fold; the reshape handles k bytes."""
    d = load_table(spark, sf_dir, "documents")
    fails = _gopher_fail_flags()
    names = sorted(fails)
    m = widen(d).select(
        *[v.cast("int").alias(k) for k, v in fails.items()]
    )
    n_failed = sum(F.col(k) for k in names)
    aggs = []
    for k in names:
        aggs.append(F.sum(k).cast("long").alias(f"fired_{k}"))
        aggs.append(
            F.coalesce(
                F.sum(F.when(n_failed == 1, F.col(k))), F.lit(0)
            )
            .cast("long")
            .alias(f"excl_{k}")
        )
    aggs.append(
        F.count(F.when(n_failed > 0, True)).cast("long").alias("fired_any")
    )
    aggs.append(
        F.count(F.when(n_failed == 1, True)).cast("long").alias("excl_any")
    )
    row = m.agg(*aggs).first()
    out = [
        (k, row[f"fired_{k}"], row[f"excl_{k}"]) for k in names
    ] + [("__any__", row["fired_any"], row["excl_any"])]
    return values_df(
        spark, out, "rule string, n_fired long, n_exclusive long"
    ).orderBy("rule")


def misra_gries_candidates(series_iter, m: int) -> list[str]:
    """Weighted Misra-Gries fold over an iterator of pandas Series.

    Maintains <= m counters; inserting a key at weight w when full
    subtracts the new minimum from every counter and drops zeros —
    each such event consumes >= (m+1) x min of inserted weight, so any
    key's total decrement is <= n/(m+1) and every key with frequency
    > n/(m+1) survives (the recall-1 bound C124 relies on).
    Property-tested against the exact counts in
    tests/test_properties.py::test_misra_gries_recall_bound."""
    d: dict[str, int] = {}
    for series in series_iter:
        for key, w in series.value_counts().items():
            w = int(w)
            if key in d:
                d[key] += w
            elif len(d) < m:
                d[key] = w
            else:
                d[key] = w
                mn = min(d.values())
                d = {k: v - mn for k, v in d.items() if v > mn}
    return list(d.keys())


_C124_BOILER = (
    "data pipeline tokens flow through the spark engine every day again "
)


@query(
    "q_c124_heavy_hitters_sketch",
    oracle=rf"""
    WITH corpus AS (
      SELECT text FROM documents
      UNION ALL   -- planted boilerplate: the corpus's natural bigram
                  -- distribution is near-uniform (max share ~0.18%),
                  -- so heavy hitters are planted to give the positive
                  -- path mass (every 41st doc contributes the fixed
                  -- sentence repeated 30x)
      SELECT repeat('{_C124_BOILER}', 30) FROM documents
      WHERE doc_id % 41 = 0
    ), t AS (
      SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS toks
      FROM corpus
    ), p AS (
      SELECT toks[CAST(r.i AS INTEGER)] || ' ' ||
             toks[CAST(r.i AS INTEGER) + 1] AS bigram
      FROM t, UNNEST(range(1, len(toks))) AS r(i)
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p)
    SELECT p.bigram, CAST(COUNT(*) AS BIGINT) AS freq, tot.n AS n_stream
    FROM p, tot
    GROUP BY p.bigram, tot.n
    HAVING COUNT(*) * 500 > tot.n
    ORDER BY freq DESC, bigram
    """,
)
def q_c124_heavy_hitters_sketch(spark, sf_dir):
    """C124 (extension): HEAVY HITTERS over the corpus bigram stream —
    every bigram above 1/500 of the stream, found WITHOUT a
    full-vocabulary shuffle: a per-partition Misra-Gries sketch
    (599 counters, weighted batch updates) nominates candidates, and
    only the nominated keys are exactly recounted. This is the
    two-pass sketch-then-verify pattern (C8's shape, applied to
    frequency instead of similarity): at 100 TB the bigram vocabulary
    is billions of keys and the groupBy-everything C38 pays for all
    of them, while MG's candidate set is bounded by counters x
    partitions regardless of vocabulary — and the exact recount makes
    the final answer independent of every sketch internal.

    Recall is EXACTLY 1 by the MG bound: an item decremented only
    when m+1 = 600 counters drop together, so total decrement per
    item <= n_p/600 < n_p/500; any bigram with global freq > n/500
    exceeds n_p/500 in some partition (pigeonhole) and survives
    there. The threshold is the integer cross-multiplication
    freq*500 > n (no float share is ever compared).

    The fixture's natural bigram distribution is near-uniform (916
    types, max share ~0.18% — nothing qualifies), so heavy hitters
    are PLANTED (every 41st doc contributes a fixed 11-token
    boilerplate sentence repeated 30x — the C111/C113 construction,
    identical on both engines): ~11 planted bigrams clear the
    threshold, 900+ natural types exercise the negative path.

    Scale: pass 1 is mapInPandas (Arrow-batched, value_counts per
    batch folded into the weighted sketch — no per-row Python); the
    candidate set broadcasts; pass 2's groupBy touches only
    candidate-matched rows. No stage is vocabulary-sized."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    corpus = widen(d).select("text").unionByName(
        d.filter(F.col("doc_id") % 41 == 0).select(
            F.expr(f"repeat('{_C124_BOILER}', 30)").alias("text")
        )
    )
    toks = corpus.select(tokenize("text").alias("t"))
    n_t = F.size("t")
    bigrams = toks.filter(n_t >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_t - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("bigram")
    )

    def mg_sketch(batches):
        keys = misra_gries_candidates(
            (pdf["bigram"] for pdf in batches), m=599
        )
        yield pd.DataFrame({"bigram": keys})

    cands = bigrams.mapInPandas(mg_sketch, "bigram string").distinct()
    n = bigrams.count()
    return (
        bigrams.join(F.broadcast(cands), "bigram")
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("freq"))
        .filter(F.col("freq") * 500 > F.lit(n))
        .select("bigram", "freq", F.lit(n).cast("long").alias("n_stream"))
        .orderBy(F.desc("freq"), "bigram")
    )


@query(
    "q_c125_token_entropy_profile",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY doc_id, lang, tok
    )
    SELECT doc_id, lang,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(log2(CAST(SUM(cnt) AS DOUBLE))
                 - SUM(cnt * log2(CAST(cnt AS DOUBLE)))
                   / CAST(SUM(cnt) AS DOUBLE), 6) AS entropy_bits
    FROM c
    GROUP BY doc_id, lang
    ORDER BY doc_id
    """,
)
def q_c125_token_entropy_profile(spark, sf_dir):
    """C125 (extension): per-document TOKEN ENTROPY — the
    information-theoretic quality signal the ratio heuristics (C10
    length/punct ratios, C28 repetition, C95 Gopher rules) cannot
    see: H = -Σ p·log2 p over the doc's token distribution, computed
    as log2(n) - Σ cnt·log2(cnt)/n from integer counts. Machine-
    generated spam with a healthy length and stopword ratio still
    shows as a LOW-entropy outlier (few tokens carrying most mass);
    the downstream gate thresholds this column per lang (the C106
    operating-point machinery chooses where).

    Float discipline: entropy values are O(log2 vocab) ~ 5 — the
    small-magnitude regime where the registry's ROUND(x, 6) AVG rule
    applies (1-ulp summation noise ~1e-15, six orders below the
    rounding quantum). Every doc is emitted ordered by doc_id — no
    rank or threshold boundary a last-ulp difference could flip.

    Scale: explode -> two map-side-combined aggregations, both
    keyed by doc_id (the second strictly shrinking); no window, no
    join — corpus size enters one narrow (doc_id, tok) shuffle, the
    same shape C1 already pays. At 100 TB this is the cheapest
    whole-corpus information audit that exists."""
    d = load_table(spark, sf_dir, "documents")
    return token_entropy_profile(d)


def token_entropy_profile(d):
    """C125's entropy pipeline over a (doc_id, lang, text) frame —
    factored so the formula is fuzzable against a pure-Python
    reference on arbitrary token multisets
    (tests/test_properties.py::test_token_entropy_matches_reference)."""
    counts = (
        widen(d)
        .select("doc_id", "lang", F.explode(tokenize("text")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt").cast("double")
    return (
        counts.groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.round(
                F.log2(n)
                - F.sum(F.col("cnt") * F.log2(F.col("cnt").cast("double")))
                / n,
                6,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C130: repetition-loop detector (token autocorrelation)
# ---------------------------------------------------------------------------

_LOOP_MAX_LAG = 16  # longest internal period probed
_LOOP_THRESHOLD = 0.8  # autocorrelation above this flags a loop


@query(
    "q_c130_repetition_loop",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), x AS (
      SELECT doc_id, len(toks) AS n, toks FROM t WHERE len(toks) >= 2
    ), l AS (
      SELECT doc_id, n, toks,
             unnest(range(1, least(16, n - 1) + 1)) AS lag
      FROM x
    ), m AS (
      SELECT doc_id, n, lag,
             len(list_filter(range(1, n - lag + 1),
                             i -> toks[i] = toks[i + lag])) AS matches
      FROM l
    ), r AS (
      SELECT doc_id, n, lag, matches,
             CAST(matches AS DOUBLE) / (n - lag) AS frac,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(matches AS DOUBLE) / (n - lag) DESC, lag ASC
             ) AS rk
      FROM m
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(lag AS BIGINT) AS best_period,
           CAST(matches AS BIGINT) AS best_matches,
           CAST(n - lag AS BIGINT) AS n_compared,
           ROUND(frac, 6) AS loop_score,
           frac >= 0.8 AS is_loop
    FROM r WHERE rk = 1
    ORDER BY doc_id
    """,
)
def q_c130_repetition_loop(spark, sf_dir):
    """C130 (extension): repetition-loop detector — the
    machine-generated-text signal the per-doc quality rungs cannot
    see: C28's dedup-within-doc catches repeated SEGMENTS on exact
    boundaries and C125's entropy drops only when the VOCABULARY
    collapses, but a decoder stuck in a loop ("the best of the best
    of the best ...") repeats a short token cycle that keeps segment
    boundaries misaligned and vocabulary nonzero. The classic signal
    is lag autocorrelation of the token stream: for each candidate
    period L in [1, 16], the fraction of positions i with
    tok[i] == tok[i+L]; a genuine loop of period p pushes the
    fraction at lag p (and its multiples) toward 1, while natural
    prose stays near the squared-unigram-frequency floor. Reported
    per doc: the argmax lag (ties -> smallest period, a total order),
    its match count / comparison count / score, and the >= 0.8 loop
    flag. (This is the exact-comparison form of rolling-hash
    autocorrelation: token equality IS the collision-free hash
    compare; at 100 TB swap the token array for xxhash64 longs —
    C129's same micro-opt — and the comparisons read 8-byte
    primitives.)

    Shape: ZERO shuffles except the final ORDER BY — the lag sweep is
    a per-row higher-order expression (16 lags x O(n) compares,
    bounded by 16·n_tokens per doc), the argmax is an array_max over
    (frac, -lag) structs inside the row, and no explode ever leaves
    the partition. The autocorrelation never materializes n x 16
    rows. Oracle unnests lags + a row_number argmax instead — same
    result, deliberately different shape (engine-portable SQL has no
    struct-ordered array_max)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = (
        widen(d)
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") >= 2)
    )
    tk = F.col("toks")
    n = F.col("n")

    def lag_struct(lag):
        matches = F.size(
            F.filter(
                F.sequence(F.lit(1), n - lag),
                lambda i: F.element_at(tk, i)
                == F.element_at(tk, i + lag),
            )
        )
        return F.struct(
            (matches.cast("double") / (n - lag).cast("double")).alias(
                "frac"
            ),
            (-lag).alias("neg_lag"),
            matches.cast("long").alias("m"),
        )

    lags = F.sequence(F.lit(1), F.least(F.lit(_LOOP_MAX_LAG), n - 1))
    best = F.array_max(F.transform(lags, lag_struct))
    return (
        base.select("doc_id", "n", best.alias("b"))
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            (-F.col("b.neg_lag")).cast("bigint").alias("best_period"),
            F.col("b.m").alias("best_matches"),
            (F.col("n") + F.col("b.neg_lag"))
            .cast("bigint")
            .alias("n_compared"),
            F.round("b.frac", 6).alias("loop_score"),
            (F.col("b.frac") >= _LOOP_THRESHOLD).alias("is_loop"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C131: tokenizer fertility audit vs a reference table
# ---------------------------------------------------------------------------

# The shipped expectation table a tokenizer release is audited against:
# per language, the fertility (BPE-ish tokens per char) the previous
# tokenizer produced on a held-out corpus, and the tolerated relative
# drift. Constants are chosen so EVERY verdict class carries mass on
# the fixture (the C82 zero-row rule applied to verdicts): en/de pass,
# es exceeds its band, zh undershoots its (deliberately char-level)
# expectation, fr is measured but unreferenced, pt is referenced but
# absent from the corpus.
_FERTILITY_REFERENCE = [
    ("en", 0.182, 0.02),
    ("de", 0.182, 0.02),
    ("es", 0.165, 0.05),
    ("zh", 0.300, 0.10),
    ("pt", 0.190, 0.02),
]


@query(
    "q_c131_fertility_audit",
    oracle="""
    WITH ref(lang, expected_fertility, tol) AS (
      VALUES ('en', 0.182, 0.02), ('de', 0.182, 0.02),
             ('es', 0.165, 0.05), ('zh', 0.300, 0.10),
             ('pt', 0.190, 0.02)
    ), measured AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
               AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents
      GROUP BY lang
    )
    SELECT COALESCE(m.lang, r.lang) AS lang,
           COALESCE(m.n_docs, 0) AS n_docs,
           COALESCE(m.n_tokens, 0) AS n_tokens,
           COALESCE(m.n_chars, 0) AS n_chars,
           ROUND(CAST(m.n_tokens AS DOUBLE) / m.n_chars, 6) AS fertility,
           r.expected_fertility,
           ROUND(CAST(m.n_tokens AS DOUBLE) / m.n_chars
                 / r.expected_fertility, 6) AS fert_ratio,
           CASE
             WHEN m.lang IS NULL THEN 'NO_DATA'
             WHEN r.lang IS NULL THEN 'UNREFERENCED'
             WHEN CAST(m.n_tokens AS DOUBLE) / m.n_chars
                  / r.expected_fertility < 1 - r.tol THEN 'TOO_LOW'
             WHEN CAST(m.n_tokens AS DOUBLE) / m.n_chars
                  / r.expected_fertility > 1 + r.tol THEN 'TOO_HIGH'
             ELSE 'OK'
           END AS verdict
    FROM measured m FULL OUTER JOIN ref r ON m.lang = r.lang
    ORDER BY lang
    """,
)
def q_c131_fertility_audit(spark, sf_dir):
    """C131 (extension): tokenizer fertility AUDIT — the release gate
    a tokenizer change ships through, completing what C80 measures:
    C80 regresses tokens ~ chars per language and reports the slopes,
    but a number with no expectation attached gates nothing. Here the
    measured per-language fertility (BPE-ish lexer tokens per char,
    C11's counting contract) joins a shipped REFERENCE table of
    (expected fertility, tolerated relative drift) and every language
    gets a verdict: OK inside the band, TOO_LOW / TOO_HIGH outside it
    (a zh expectation set at char-level fertility catches a tokenizer
    that silently stopped splitting CJK), UNREFERENCED for measured
    languages the reference never recorded, NO_DATA for referenced
    languages the corpus lost — the last two are the classes that
    catch pipeline wiring bugs rather than tokenizer bugs, and the
    fixture constants give every class at least one row (C82's
    zero-row discipline applied to verdicts).

    Shape: one map-side-combined aggregate over the corpus (3 integer
    partials per language), FULL OUTER joined against a k-row local
    relation — at any scale the join input is |langs| rows; the corpus
    is touched exactly once. (No broadcast hint: Spark cannot
    broadcast a full-outer build side, and none is needed — the
    measured side is already the |langs|-row aggregate output, so the
    join exchange carries k rows.) The ratio divides the same unrounded
    doubles in the same order on both engines; band compares sit >3
    sigma from every fixture value at all three scales, so no float
    tie decides a verdict."""
    d = load_table(spark, sf_dir, "documents")
    measured = (
        widen(d)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.size(
                    F.regexp_extract_all(
                        "text",
                        F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"),
                        0,
                    )
                )
            )
            .cast("bigint")
            .alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    ref = values_df(
        spark,
        _FERTILITY_REFERENCE,
        "lang string, expected_fertility double, tol double",
    )
    fert = F.col("m.n_tokens").cast("double") / F.col("m.n_chars")
    ratio = fert / F.col("r.expected_fertility")
    return (
        measured.alias("m")
        .join(
            ref.alias("r"),
            F.col("m.lang") == F.col("r.lang"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("m.lang"), F.col("r.lang")).alias("lang"),
            F.coalesce(F.col("m.n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.col("m.n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("m.n_chars"), F.lit(0)).alias("n_chars"),
            F.round(fert, 6).alias("fertility"),
            F.col("r.expected_fertility"),
            F.round(ratio, 6).alias("fert_ratio"),
            F.when(F.col("m.lang").isNull(), "NO_DATA")
            .when(F.col("r.lang").isNull(), "UNREFERENCED")
            .when(ratio < 1 - F.col("r.tol"), "TOO_LOW")
            .when(ratio > 1 + F.col("r.tol"), "TOO_HIGH")
            .otherwise("OK")
            .alias("verdict"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# C139: per-(lang, source) fertility drill-down (C131's audit localized)
# ---------------------------------------------------------------------------

_C139_TOL = 0.02


@query(
    "q_c139_fertility_drilldown",
    oracle=f"""
    WITH m AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
               AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents
      GROUP BY lang, source
    ),
    l AS (
      SELECT lang, SUM(n_tokens) AS lt, SUM(n_chars) AS lc
      FROM m GROUP BY lang
    )
    SELECT m.lang, m.source, m.n_docs, m.n_tokens, m.n_chars,
           ROUND(CAST(m.n_tokens AS DOUBLE) / m.n_chars, 6) AS fertility,
           ROUND(CAST(l.lt AS DOUBLE) / l.lc, 6) AS lang_fertility,
           ROUND((CAST(m.n_tokens AS DOUBLE) / m.n_chars)
                 / (CAST(l.lt AS DOUBLE) / l.lc), 6) AS ratio,
           CASE
             WHEN (CAST(m.n_tokens AS DOUBLE) / m.n_chars)
                  / (CAST(l.lt AS DOUBLE) / l.lc) < 1 - {_C139_TOL}
               THEN 'SOURCE_LOW'
             WHEN (CAST(m.n_tokens AS DOUBLE) / m.n_chars)
                  / (CAST(l.lt AS DOUBLE) / l.lc) > 1 + {_C139_TOL}
               THEN 'SOURCE_HIGH'
             ELSE 'OK' END AS verdict
    FROM m JOIN l ON l.lang = m.lang
    ORDER BY m.lang, m.source
    """,
)
def q_c139_fertility_drilldown(spark, sf_dir):
    """C139 (extension, round 11): per-(lang, source) fertility
    DRILL-DOWN — the localization step C131's language-level audit
    hands off to: when a language's fertility drifts, WHICH source is
    responsible? Each (lang, source) cell's fertility (the same
    BPE-ish-lexer tokens-per-char as C131/C11) is compared against its
    language's corpus-wide fertility — an INTERNAL baseline, so the
    drill-down works even for languages C131's reference table never
    recorded — and flagged SOURCE_LOW / SOURCE_HIGH outside a ±2%
    band (a source whose fertility deviates from its own language's
    norm is the mis-tagged-language / format-corruption / boilerplate
    signature C41 tracks over time; this is the same verdict at
    source granularity). Both verdict branches carry fixture rows at
    every SF, and every ratio sits >= 2.2e-4 from the band edges
    (measured) — no float tie decides a verdict.

    Shape: ONE map-side-combined aggregate over the corpus to
    |langs x sources| rows (3 integer partials per cell); the
    language baseline is a re-aggregation OF THOSE CELLS (the corpus
    is touched exactly once); the final join carries k rows per side.
    The ratio divides the same unrounded doubles in the same order on
    both engines (C131's discipline)."""
    d = load_table(spark, sf_dir, "documents")
    m = (
        widen(d)
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.size(
                    F.regexp_extract_all(
                        "text",
                        F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"),
                        0,
                    )
                )
            )
            .cast("bigint")
            .alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    lang_tot = m.groupBy("lang").agg(
        F.sum("n_tokens").alias("lt"), F.sum("n_chars").alias("lc")
    )
    fert = F.col("n_tokens").cast("double") / F.col("n_chars")
    lfert = F.col("lt").cast("double") / F.col("lc")
    ratio = fert / lfert
    return (
        m.join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(fert, 6).alias("fertility"),
            F.round(lfert, 6).alias("lang_fertility"),
            F.round(ratio, 6).alias("ratio"),
            F.when(ratio < 1 - _C139_TOL, "SOURCE_LOW")
            .when(ratio > 1 + _C139_TOL, "SOURCE_HIGH")
            .otherwise("OK")
            .alias("verdict"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# C143: per-source fertility TREND (C139 over ingestion epochs; the
# longitudinal form of C41's snapshot drift report)
# ---------------------------------------------------------------------------


@query(
    "q_c143_fertility_trend",
    oracle=r"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    cells AS (
      SELECT source, (doc_id * 4) // (SELECT m FROM mx) AS epoch,
             CAST(SUM(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS t,
             CAST(SUM(n_chars) AS BIGINT) AS c
      FROM documents
      GROUP BY source, epoch
    ),
    f AS (
      SELECT source, epoch, CAST(t AS DOUBLE) / c AS f FROM cells
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_epochs,
             CAST(SUM(epoch) AS BIGINT) AS se,
             CAST(SUM(epoch * epoch) AS BIGINT) AS se2,
             list_sum(list(f ORDER BY epoch)) AS sf_,
             list_sum(list(epoch * f ORDER BY epoch)) AS sef
      FROM f GROUP BY source
    ),
    sl AS (
      SELECT source, n_epochs,
             (n_epochs * sef - se * sf_)
               / (n_epochs * se2 - se * se) AS slope
      FROM s WHERE n_epochs >= 2
    )
    SELECT source, n_epochs, slope,
           CAST(rnk AS INTEGER) AS drift_rank,
           rnk <= 3 AS on_watch_list
    FROM (SELECT source, n_epochs, slope,
                 ROW_NUMBER() OVER (ORDER BY abs(slope) DESC, source)
                   AS rnk
          FROM sl)
    ORDER BY drift_rank
    """,
)
def q_c143_fertility_trend(spark, sf_dir):
    """C143 (extension, round 11): per-source fertility TREND — the
    longitudinal form of C41's snapshot drift report and the third
    rung of the fertility ladder (C131 audits languages against a
    reference, C139 localizes to sources, this watches sources over
    TIME): the corpus is split into 4 ingestion epochs (doc_id range
    quarters — the id is the arrival-order proxy this fixture has),
    each (source, epoch) cell's fertility is the exact-integer
    tokens/chars ratio, and each source gets the least-squares SLOPE
    of fertility over its present epochs — the "this feed's tokenizer
    behavior is drifting" signal that fires while per-snapshot
    z-scores still look normal. The verdict is RANK-based (top-3
    |slope| = the watch list, ties by source) rather than a fixed
    threshold: measured slopes shrink ~5x from sf0.01 to sf0.1 (they
    are sampling noise on this synthetic corpus), so any constant
    threshold would starve one branch at some scale, while a pager's
    top-movers list is scale-free and both verdict branches always
    carry rows.

    Numerics: the slope is a closed form over exact BIGINT epoch sums
    and per-epoch ratio doubles; the two double accumulations (sum f,
    sum e*f) fold in EPOCH ORDER on both engines (Spark: sequential
    aggregate over array_sort(collect_list); DuckDB: list_sum over
    list(... ORDER BY epoch) — the proven fold-equal pair), so the
    slope doubles are bit-identical and ship UNROUNDED (C134's
    lesson).

    Scale: one map-side-combined corpus aggregate to
    |sources| x 4 cells; everything after is sources-sized. The
    1-row max-id fold broadcasts (the C26 class)."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    cells = (
        widen(d)
        .crossJoin(F.broadcast(mx))
        .select(
            "source",
            F.expr("(doc_id * 4) div m").alias("epoch"),
            F.size(
                F.regexp_extract_all(
                    "text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
                )
            ).alias("tk"),
            "n_chars",
        )
        .groupBy("source", "epoch")
        .agg(
            F.sum("tk").cast("bigint").alias("t"),
            F.sum("n_chars").cast("bigint").alias("c"),
        )
    )
    f = cells.select(
        "source", "epoch", (F.col("t").cast("double") / F.col("c")).alias("f")
    )

    def ordered_sum(expr_col):
        arr = F.transform(
            F.array_sort(F.collect_list(F.struct("epoch", expr_col.alias("v")))),
            lambda x: x["v"],
        )
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    s = f.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_epochs"),
        F.sum("epoch").cast("bigint").alias("se"),
        F.sum(F.col("epoch") * F.col("epoch")).cast("bigint").alias("se2"),
        ordered_sum(F.col("f")).alias("sf_"),
        ordered_sum(F.col("epoch") * F.col("f")).alias("sef"),
    )
    slope = (
        F.col("n_epochs") * F.col("sef") - F.col("se") * F.col("sf_")
    ) / (F.col("n_epochs") * F.col("se2") - F.col("se") * F.col("se"))
    sl = s.where(F.col("n_epochs") >= 2).select(
        "source", "n_epochs", slope.alias("slope")
    )
    w = Window.orderBy(F.abs("slope").desc(), "source")
    return (
        sl.withColumn("drift_rank", F.row_number().over(w))
        .select(
            "source",
            "n_epochs",
            "slope",
            "drift_rank",
            (F.col("drift_rank") <= 3).alias("on_watch_list"),
        )
        .orderBy("drift_rank")
    )


# ---------------------------------------------------------------------------
# C146: drift watch-list HANDOFF (C143's trend flags joined to C139's
# per-source level verdicts — trend + level in one pager row)
# ---------------------------------------------------------------------------


@query(
    "q_c146_drift_watchlist_handoff",
    oracle=rf"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    cells AS (
      SELECT lang, source, (doc_id * 4) // (SELECT m FROM mx) AS epoch,
             CAST(SUM(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS t,
             CAST(SUM(n_chars) AS BIGINT) AS c
      FROM documents
      GROUP BY lang, source, epoch
    ),
    m AS (
      SELECT lang, source,
             CAST(SUM(t) AS BIGINT) AS n_tokens,
             CAST(SUM(c) AS BIGINT) AS n_chars
      FROM cells GROUP BY lang, source
    ),
    l AS (
      SELECT lang, SUM(n_tokens) AS lt, SUM(n_chars) AS lc
      FROM m GROUP BY lang
    ),
    verd AS (
      SELECT m.source,
             CASE
               WHEN (CAST(m.n_tokens AS DOUBLE) / m.n_chars)
                    / (CAST(l.lt AS DOUBLE) / l.lc) < 1 - {_C139_TOL}
                 THEN 'SOURCE_LOW'
               WHEN (CAST(m.n_tokens AS DOUBLE) / m.n_chars)
                    / (CAST(l.lt AS DOUBLE) / l.lc) > 1 + {_C139_TOL}
                 THEN 'SOURCE_HIGH'
               ELSE 'OK' END AS verdict
      FROM m JOIN l ON l.lang = m.lang
    ),
    level AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_lang_cells,
             CAST(COUNT(*) FILTER (WHERE verdict = 'SOURCE_LOW')
               AS BIGINT) AS n_level_low,
             CAST(COUNT(*) FILTER (WHERE verdict = 'SOURCE_HIGH')
               AS BIGINT) AS n_level_high
      FROM verd GROUP BY source
    ),
    sec AS (
      SELECT source, epoch,
             CAST(SUM(t) AS BIGINT) AS t, CAST(SUM(c) AS BIGINT) AS c
      FROM cells GROUP BY source, epoch
    ),
    f AS (
      SELECT source, epoch, CAST(t AS DOUBLE) / c AS f FROM sec
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_epochs,
             CAST(SUM(epoch) AS BIGINT) AS se,
             CAST(SUM(epoch * epoch) AS BIGINT) AS se2,
             list_sum(list(f ORDER BY epoch)) AS sf_,
             list_sum(list(epoch * f ORDER BY epoch)) AS sef
      FROM f GROUP BY source
    ),
    sl AS (
      SELECT source, n_epochs,
             (n_epochs * sef - se * sf_)
               / (n_epochs * se2 - se * se) AS slope
      FROM s WHERE n_epochs >= 2
    ),
    rk AS (
      SELECT source, n_epochs, slope,
             CAST(ROW_NUMBER() OVER (ORDER BY abs(slope) DESC, source)
               AS INTEGER) AS drift_rank
      FROM sl
    )
    SELECT r.source, r.n_epochs, r.slope, r.drift_rank,
           r.drift_rank <= 3 AS on_watch_list,
           v.n_lang_cells, v.n_level_low, v.n_level_high,
           CASE
             WHEN r.drift_rank <= 3
                  AND v.n_level_low + v.n_level_high > 0
               THEN 'LEVEL_AND_TREND'
             WHEN r.drift_rank <= 3 THEN 'TREND_ONLY'
             WHEN v.n_level_low + v.n_level_high > 0 THEN 'LEVEL_ONLY'
             ELSE 'CLEAN' END AS pager_verdict
    FROM rk r JOIN level v ON v.source = r.source
    ORDER BY r.drift_rank
    """,
)
def q_c146_drift_watchlist_handoff(spark, sf_dir):
    """C146 (extension, round 12): drift watch-list HANDOFF — the
    survey's queued C143 -> C139 join: one pager row per source
    carrying BOTH its fertility trend (C143's least-squares slope over
    ingestion epochs, drift_rank, on_watch_list) and its fertility
    LEVEL verdicts (how many of its per-language cells C139 flags
    SOURCE_LOW / SOURCE_HIGH right now). The combined pager_verdict is
    what an on-call reviewer triages by: LEVEL_AND_TREND (drifting AND
    already outside the level band — act now), TREND_ONLY (drifting
    but levels still in band — the early warning C143 exists for),
    LEVEL_ONLY (static offset, no trend — likely a stable format
    quirk), CLEAN. All four branches carry rows at sf0.001/sf0.01;
    at sf0.1 the LEVEL flags empty out honestly (C139's ±2% band is
    threshold-based and this synthetic corpus's per-source fertility
    converges to its language norm as n grows — exactly the
    scale-dependence C143's docstring cites for preferring the
    rank-based watch list, which fires at every SF). The driver's
    correctness gate runs at sf0.01 where all four branches are
    exercised (asserted in tests).

    Numerics: both parents' numbers are DERIVED FROM ONE SHARED
    corpus pass — the (lang, source, epoch) cell table — and both
    re-aggregations are exact BIGINT sums, so every ratio divides the
    same integers as the standalone C139/C143 queries and the slope
    reuses C143's epoch-ordered fold pair (Spark sequential aggregate
    over array_sort(collect_list) vs DuckDB list_sum(list(... ORDER
    BY epoch))) — bit-identical, shipped unrounded. Verdict margins
    inherit C139's measured >= 2.2e-4 band distances and C143's
    rank-based (tie-broken) watch list — no float tie decides any
    output.

    Scale: ONE map-side-combined corpus aggregate to
    |langs x sources x 4| cells (the C141-contraction discipline:
    the corpus is touched once, both parent views re-aggregate the
    cell table); everything downstream is sources-sized. The 1-row
    max-id fold broadcasts (C143's class); the global drift-rank
    window runs over the ~sources-row slope table (C143's
    lint-allowlisted class)."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    cells = (
        widen(d)
        .crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "source",
            F.expr("(doc_id * 4) div m").alias("epoch"),
            F.size(
                F.regexp_extract_all(
                    "text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
                )
            ).alias("tk"),
            "n_chars",
        )
        .groupBy("lang", "source", "epoch")
        .agg(
            F.sum("tk").cast("bigint").alias("t"),
            F.sum("n_chars").cast("bigint").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    # level side (C139 re-derived from the cells)
    m = cells.groupBy("lang", "source").agg(
        F.sum("t").cast("bigint").alias("n_tokens"),
        F.sum("c").cast("bigint").alias("n_chars"),
    )
    lang_tot = m.groupBy("lang").agg(
        F.sum("n_tokens").alias("lt"), F.sum("n_chars").alias("lc")
    )
    ratio = (F.col("n_tokens").cast("double") / F.col("n_chars")) / (
        F.col("lt").cast("double") / F.col("lc")
    )
    verd = m.join(F.broadcast(lang_tot), "lang").select(
        "source",
        F.when(ratio < 1 - _C139_TOL, "SOURCE_LOW")
        .when(ratio > 1 + _C139_TOL, "SOURCE_HIGH")
        .otherwise("OK")
        .alias("verdict"),
    )
    level = verd.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_lang_cells"),
        F.count_if(F.col("verdict") == "SOURCE_LOW")
        .cast("bigint")
        .alias("n_level_low"),
        F.count_if(F.col("verdict") == "SOURCE_HIGH")
        .cast("bigint")
        .alias("n_level_high"),
    )
    # trend side (C143 re-derived from the cells)
    sec = cells.groupBy("source", "epoch").agg(
        F.sum("t").cast("bigint").alias("t"),
        F.sum("c").cast("bigint").alias("c"),
    )
    f = sec.select(
        "source", "epoch", (F.col("t").cast("double") / F.col("c")).alias("f")
    )

    def ordered_sum(expr_col):
        arr = F.transform(
            F.array_sort(F.collect_list(F.struct("epoch", expr_col.alias("v")))),
            lambda x: x["v"],
        )
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    s = f.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_epochs"),
        F.sum("epoch").cast("bigint").alias("se"),
        F.sum(F.col("epoch") * F.col("epoch")).cast("bigint").alias("se2"),
        ordered_sum(F.col("f")).alias("sf_"),
        ordered_sum(F.col("epoch") * F.col("f")).alias("sef"),
    )
    slope = (
        F.col("n_epochs") * F.col("sef") - F.col("se") * F.col("sf_")
    ) / (F.col("n_epochs") * F.col("se2") - F.col("se") * F.col("se"))
    sl = s.where(F.col("n_epochs") >= 2).select(
        "source", "n_epochs", slope.alias("slope")
    )
    w = Window.orderBy(F.abs("slope").desc(), "source")
    rk = sl.withColumn("drift_rank", F.row_number().over(w))
    on_watch = F.col("drift_rank") <= 3
    level_flagged = (F.col("n_level_low") + F.col("n_level_high")) > 0
    return (
        rk.join(level, "source")
        .select(
            "source",
            "n_epochs",
            "slope",
            "drift_rank",
            on_watch.alias("on_watch_list"),
            "n_lang_cells",
            "n_level_low",
            "n_level_high",
            F.when(on_watch & level_flagged, "LEVEL_AND_TREND")
            .when(on_watch, "TREND_ONLY")
            .when(level_flagged, "LEVEL_ONLY")
            .otherwise("CLEAN")
            .alias("pager_verdict"),
        )
        .orderBy("drift_rank")
    )


# ---------------------------------------------------------------------------
# C132: per-domain empirical-Bayes quality-prior smoothing
# ---------------------------------------------------------------------------


@query(
    "q_c132_quality_prior_smoothing",
    oracle=r"""
    WITH base AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'src_degraded' AS source,
             array_to_string(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')[1:10], ' ') AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (
      SELECT source,
             CASE WHEN len(toks) BETWEEN 20 AND 1000
                   AND CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) >= 0.3
                  THEN 1 ELSE 0 END AS ok
      FROM (SELECT source,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM base)
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ok) AS BIGINT) AS k
      FROM t GROUP BY source
    ),
    pp AS (
      SELECT source, n, k,
             CAST(k * 1000000 // n AS BIGINT) AS ppm
      FROM per
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s,
             CAST(SUM(ppm) AS BIGINT) AS sp,
             CAST(SUM(ppm * ppm) AS BIGINT) AS spp
      FROM pp
    ),
    pri AS (
      SELECT CAST(sp AS DOUBLE) / s / 1000000 AS m,
             (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / s)
               / s / 1000000 / 1000000 AS v
      FROM mom
    ),
    st AS (
      SELECT m,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 1
                  THEN m * (1 - m) / v - 1 ELSE 1 END AS mm
      FROM pri
    )
    SELECT source, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
           ROUND(m, 6) AS prior_rate,
           ROUND(mm, 6) AS prior_strength,
           ROUND((k + mm * m) / (n + mm), 6) AS shrunk_rate,
           ROUND(CAST(n AS DOUBLE) / (n + mm), 6) AS shrink_weight
    FROM pp CROSS JOIN st
    ORDER BY source
    """,
)
def q_c132_quality_prior_smoothing(spark, sf_dir):
    """C132 (extension): per-domain EMPIRICAL-BAYES smoothing of
    source quality rates — the statistical upgrade C105's Wilson gate
    points at but does not perform: Wilson says which raw rates are
    UNRELIABLE; this replaces every raw rate with the defensible
    estimate. A Beta prior is moment-matched to the observed
    cross-source rate distribution (prior mean = mean of per-source
    rates, prior strength M = m(1-m)/v - 1, floored at 1 and mirrored
    in both engines), and each source's rate shrinks to
    (k + M*m) / (n + M): a 10-doc feed collapses toward the corpus
    prior (shrink_weight n/(n+M) near 0) while a 10k-doc feed keeps
    its own evidence — the classic beta-binomial rate stabilizer
    (Efron & Morris's batting-average construction). The C105 planted
    degraded feed rides along so shrinkage is visible on a genuinely
    outlying source. (Honest scope note: M is fitted to the RAW rate
    dispersion without subtracting binomial sampling noise — the
    noise-corrected variant subtracts m(1-m)*mean(1/n) from v, a
    one-line change on the same integer moments.)

    Numerics — the C121/C122 ppm discipline applied to MOMENTS: a
    float sum of per-source rates would be partial-order-dependent
    across engines, so each rate quantizes to an exact integer ppm
    (k*1e6 DIV n) and the prior fits on exact BIGINT folds (S, Σppm,
    Σppm²); every double afterwards derives from those integers
    through the same expression tree on both engines, so prior,
    strength, and shrunk rates agree bit-for-bit before the 6dp edge
    round.

    Scale: identical to C105 — per-row gate projection, |sources|-row
    rollup, 1-row moment fold crossed back broadcast. Nothing else
    moves; adding the noise correction adds one integer partial
    (Σ(1e12 DIV n)), not a pass."""
    d = load_table(spark, sf_dir, "documents")
    degraded = d.where(F.col("doc_id") % 5 == 0).select(
        F.lit("src_degraded").alias("source"),
        F.array_join(F.slice(tokenize("text"), 1, 10), " ").alias(
            "text"
        ),
    )
    base = widen(d.select("source", "text")).unionByName(degraded)
    stats = token_stats(F.col("text"))
    t = base.select(
        "source",
        (
            stats["n_tokens"].between(20, 1000)
            & (stats["distinct_ratio"] >= 0.3)
        )
        .cast("int")
        .alias("ok"),
    )
    per = t.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ok").cast("long").alias("k"),
    )
    pp = per.withColumn("ppm", F.expr("CAST(k * 1000000 DIV n AS BIGINT)"))
    mom = pp.agg(
        F.count("*").cast("long").alias("s"),
        F.sum("ppm").cast("long").alias("sp"),
        F.sum(F.col("ppm") * F.col("ppm")).cast("long").alias("spp"),
    )
    m = F.col("sp").cast("double") / F.col("s") / 1000000
    v = (
        (
            F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp") / F.col("s")
        )
        / F.col("s")
        / 1000000
        / 1000000
    )
    st = mom.select(
        m.alias("m"),
        F.when(
            (v > 0) & (m * (1 - m) / v - 1 > 1), m * (1 - m) / v - 1
        )
        .otherwise(F.lit(1.0))
        .alias("mm"),
    )
    return (
        pp.crossJoin(F.broadcast(st))
        .select(
            "source",
            "n",
            "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round("m", 6).alias("prior_rate"),
            F.round("mm", 6).alias("prior_strength"),
            F.round(
                (F.col("k") + F.col("mm") * F.col("m"))
                / (F.col("n") + F.col("mm")),
                6,
            ).alias("shrunk_rate"),
            F.round(
                F.col("n").cast("double") / (F.col("n") + F.col("mm")), 6
            ).alias("shrink_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C136: noise-corrected empirical-Bayes prior (the C132 upgrade)
# ---------------------------------------------------------------------------


@query(
    "q_c136_noise_corrected_prior",
    oracle=r"""
    WITH base AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'src_degraded' AS source,
             array_to_string(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')[1:10], ' ') AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (
      SELECT source,
             CASE WHEN len(toks) BETWEEN 20 AND 1000
                   AND CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) >= 0.3
                  THEN 1 ELSE 0 END AS ok
      FROM (SELECT source,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM base)
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ok) AS BIGINT) AS k
      FROM t GROUP BY source
    ),
    pp AS (
      SELECT source, n, k,
             CAST(k * 1000000 // n AS BIGINT) AS ppm
      FROM per
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s,
             CAST(SUM(ppm) AS BIGINT) AS sp,
             CAST(SUM(ppm * ppm) AS BIGINT) AS spp,
             CAST(SUM(1000000000000 // n) AS BIGINT) AS si
      FROM pp
    ),
    pri AS (
      SELECT CAST(sp AS DOUBLE) / s / 1000000 AS m,
             (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / s)
               / s / 1000000 / 1000000 AS v,
             CAST(si AS DOUBLE) / s / 1000000000000 AS mean_inv
      FROM mom
    ),
    st AS (
      SELECT m, v,
             v - m * (1 - m) * mean_inv AS tau2,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 1
                  THEN m * (1 - m) / v - 1 ELSE 1 END AS mm_naive,
             CASE WHEN v - m * (1 - m) * mean_inv > 0
                    AND m * (1 - m) / (v - m * (1 - m) * mean_inv) - 1 > 1
                  THEN m * (1 - m) / (v - m * (1 - m) * mean_inv) - 1
                  ELSE 1 END AS mm_corr
      FROM pri
    )
    SELECT source, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
           ROUND(m, 6) AS prior_rate,
           ROUND(mm_naive, 6) AS naive_strength,
           ROUND(mm_corr, 6) AS corrected_strength,
           ROUND((k + mm_naive * m) / (n + mm_naive), 6)
             AS shrunk_naive,
           ROUND((k + mm_corr * m) / (n + mm_corr), 6)
             AS shrunk_corrected
    FROM pp CROSS JOIN st
    ORDER BY source
    """,
)
def q_c136_noise_corrected_prior(spark, sf_dir):
    """C136 (extension): the NOISE-CORRECTED empirical-Bayes fit —
    the one-line upgrade C132's docstring queues, landed as the
    side-by-side audit: C132's naive moment fit matches the Beta
    prior to the RAW cross-source rate dispersion, but observed rates
    carry binomial sampling noise (Var(p̂_i) = Var(p_true) +
    E[p(1-p)/n]), so the naive fit OVERSTATES the true between-source
    variance and under-shrinks every small feed. The corrected fit
    subtracts the expected sampling term m(1-m)·mean(1/n) before
    inverting to a prior strength; this query reports both strengths
    and both shrunk rates per source, so the gap — how much of the
    apparent source-quality spread was just small-sample noise — is
    read directly off the result. corrected_strength >= naive_strength
    always (less attributed-true variance -> stronger shrinkage),
    asserted in tests.

    Numerics: one NEW exact integer partial beside C132's — Σ of the
    scaled inverse 1e12 DIV n (the documented 'one integer partial,
    not a pass'); every double still derives from exact BIGINT folds
    through identical expression trees on both engines. Floors at 1
    mirror C132 and catch the tau² <= 0 boundary (all observed spread
    explained by sampling noise -> shrink hard).

    Scale: identical to C132 — per-row gate, |sources| rollup, 1-row
    moment fold crossed back broadcast."""
    d = load_table(spark, sf_dir, "documents")
    degraded = d.where(F.col("doc_id") % 5 == 0).select(
        F.lit("src_degraded").alias("source"),
        F.array_join(F.slice(tokenize("text"), 1, 10), " ").alias(
            "text"
        ),
    )
    base = widen(d.select("source", "text")).unionByName(degraded)
    stats = token_stats(F.col("text"))
    t = base.select(
        "source",
        (
            stats["n_tokens"].between(20, 1000)
            & (stats["distinct_ratio"] >= 0.3)
        )
        .cast("int")
        .alias("ok"),
    )
    per = t.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ok").cast("long").alias("k"),
    )
    pp = per.withColumn("ppm", F.expr("CAST(k * 1000000 DIV n AS BIGINT)"))
    mom = pp.agg(
        F.count("*").cast("long").alias("s"),
        F.sum("ppm").cast("long").alias("sp"),
        F.sum(F.col("ppm") * F.col("ppm")).cast("long").alias("spp"),
        F.sum(F.expr("1000000000000 DIV n")).cast("long").alias("si"),
    )
    m = F.col("sp").cast("double") / F.col("s") / 1000000
    v = (
        (
            F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp") / F.col("s")
        )
        / F.col("s")
        / 1000000
        / 1000000
    )
    mean_inv = F.col("si").cast("double") / F.col("s") / 1000000000000
    tau2 = v - m * (1 - m) * mean_inv
    st = mom.select(
        m.alias("m"),
        F.when(
            (v > 0) & (m * (1 - m) / v - 1 > 1), m * (1 - m) / v - 1
        )
        .otherwise(F.lit(1.0))
        .alias("mm_naive"),
        F.when(
            (tau2 > 0) & (m * (1 - m) / tau2 - 1 > 1),
            m * (1 - m) / tau2 - 1,
        )
        .otherwise(F.lit(1.0))
        .alias("mm_corr"),
    )
    return (
        pp.crossJoin(F.broadcast(st))
        .select(
            "source",
            "n",
            "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round("m", 6).alias("prior_rate"),
            F.round("mm_naive", 6).alias("naive_strength"),
            F.round("mm_corr", 6).alias("corrected_strength"),
            F.round(
                (F.col("k") + F.col("mm_naive") * F.col("m"))
                / (F.col("n") + F.col("mm_naive")),
                6,
            ).alias("shrunk_naive"),
            F.round(
                (F.col("k") + F.col("mm_corr") * F.col("m"))
                / (F.col("n") + F.col("mm_corr")),
                6,
            ).alias("shrunk_corrected"),
        )
        .orderBy("source")
    )
