"""Similarity search over embedding columns (SURVEY §2 C3/C4 + ANN):
brute-force cosine top-k as the verified baseline, an ANN ladder (LSH,
IVF, PQ, random projection) as the scale path, k-means / PQ
quantizers, embedding column stats.

Shared kernels: every ANN rung is a candidate generator in front of
one exact-cosine top-k refine (:func:`cosine_top_k`, whose ranking
tail :func:`rank_top_k` the other per-query top-k's reuse); every
choice of codes by inner product against a driver-held matrix is one
scalar pandas UDF (:func:`ip_ranker`); every nearest-centroid
assignment by squared L2 is one Arrow assigner (:func:`_assign_np`)
under one Lloyd driver (:func:`lloyd`).

100 TB design notes:
- Queries are broadcast (tiny); the corpus is never shuffled for the
  brute-force scan — cosine is computed map-side, then only (qid, cid,
  sim) triples move to the per-query top-k. That's O(corpus) compute and
  O(corpus x queries) tiny-row shuffle; the right baseline up to ~1e9
  rows before ANN is needed.
- The ANN variant buckets the corpus by random-hyperplane signs
  (deterministic hash-derived planes), probing only matching buckets —
  candidate generation drops to a fraction 2^-bits of the corpus per
  query; recall is asserted against brute force in tests.
"""

from __future__ import annotations

from collections import namedtuple
from decimal import Decimal, localcontext

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table, widen
from etl_spark_eks_spark.functions.exact import dsum
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.functions.vector import cosine_similarity, dot, l2_norm
from etl_spark_eks_spark.registry import query

# Shared double-precision cosine oracle fragment (bit-exact with
# functions.vector.dot's sequential left fold — verified in tests).
_COSINE_PAIRS_SQL = """
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           list_sum(list_transform(list_zip(q.embedding, c.embedding),
                    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, embeddings c
"""


def _assign_width(df: DataFrame, per_part_bytes: int = 2 << 20) -> int:
    """Scale-adaptive partition floor for the Arrow-batched assignment
    family — see :func:`etl_spark_eks_spark.catalog.adaptive_width`
    (round 12; a numpy ``mapInPandas`` batch assigns tens of thousands
    of rows per millisecond, so fixture-sized inputs only pay per-task
    Python round-trips past a handful of partitions)."""
    from etl_spark_eks_spark.catalog import adaptive_width

    return adaptive_width(df, per_part_bytes)


def rank_top_k(
    scored: DataFrame, k: int, score: str = "sim", by: tuple[str, ...] = ()
) -> DataFrame:
    """The per-query ranking tail of every top-k here: ``rnk`` is
    row_number over ``qid`` (and the ``by`` columns) ordered by
    (``score`` desc, ``cid``), and only rows with ``rnk <= k`` stay.
    The ``cid`` tiebreak is what the oracles' ``ORDER BY sim DESC,
    cid`` mirrors."""
    w = Window.partitionBy("qid", *by).orderBy(F.col(score).desc(), F.col("cid"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def cosine_top_k(
    probe: DataFrame, corpus: DataFrame, k: int, key: str | None = None
) -> DataFrame:
    """The exact-cosine top-k refine every rung of the ANN ladder ends
    in (q_c3, q_c14, q_c17, q_c21, q_c39). The probe rows ``(qid, qe[,
    key])`` are broadcast and joined to the corpus rows ``(cid, ce[,
    key])`` on ``key``, or crossed with them when there is no key; each
    pair gets the double-precision cosine of ``qe`` and ``ce``, and
    :func:`rank_top_k` keeps the best ``k`` per query. Returns ``(qid,
    cid, sim, rnk)``.

    A rung is only its candidate generator, expressed as the key: none
    for brute force, the hyperplane bucket (q_c14), the probed IVF cell
    (q_c17), or the candidate ``cid`` itself for the rerank after an
    approximate stage (q_c21, q_c39). The probe side is query-sized by
    contract; the caller widens the corpus before any per-row key is
    evaluated on it, and cosine runs map-side, so only (qid, cid, sim)
    triples reach the per-query window."""
    pairs = (
        F.broadcast(probe).join(corpus, key)
        if key
        else F.broadcast(probe).crossJoin(corpus)
    )
    sim = cosine_similarity(F.col("qe"), F.col("ce"))
    return rank_top_k(pairs.select("qid", "cid", sim.alias("sim")), k)


def _probe(queries: DataFrame, *key: Column) -> DataFrame:
    """``(vec_id, embedding)`` rows as the kernel's probe side."""
    return queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), *key
    )


def _corpus(corpus: DataFrame, *key: Column) -> DataFrame:
    """``(vec_id, embedding)`` rows as the kernel's corpus side."""
    return corpus.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), *key
    )


def ip_ranker(mat, n: int, group_slices=None):
    """Scalar pandas-UDF factory ranking a driver-held matrix by inner
    product: ``array<float|double> -> array<int>``, per row the ``n``
    codes (row indexes of ``mat``) with the largest ``x @ mat.T``, best
    first. The sort is stable, so equal scores go to the smaller code,
    as ``argmax`` and the oracles' ``ORDER BY d DESC, code`` do. With
    ``group_slices`` each slice of the vector ranks against the same
    slice of every row of ``mat``, and the per-slice top-n lists are
    concatenated in slice order (PQ's per-subspace encode).

    One factory serves IVF's nearest cell and probe cells (q_c17), the
    full cell ranking of the probe planner (q_c148) and the PQ encode
    (q_c21). It stays a scalar UDF: only the vector goes to Python and
    back comes the small code array, while the other columns of the
    row stay in the JVM. ``mat`` is model-sized and ships in the
    closure."""
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(mat, dtype=np.float64)
    slices = group_slices or [slice(None)]

    @pandas_udf("array<int>")
    def rank(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        x = np.stack(col.to_numpy()).astype(np.float64)
        top = [
            np.argsort(-(x[:, s] @ mat[:, s].T), axis=1, kind="stable")[:, :n]
            for s in slices
        ]
        return pd.Series(list(np.concatenate(top, axis=1).astype(np.int32)))

    return rank


def knn_cosine_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors per query: :func:`cosine_top_k`
    with no key, every query against the whole widened corpus."""
    return cosine_top_k(_probe(queries), _corpus(widen(corpus)), k)


@query(
    "q_c3_knn_cosine",
    oracle=f"""
    WITH pairs AS ({_COSINE_PAIRS_SQL}),
    ranked AS (
      SELECT qid, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM pairs)
    SELECT qid, cid, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_c3_knn_cosine(spark, sf_dir):
    """C3: exact top-5 cosine neighbors for query vectors vec_id < 5.
    Double-precision end to end; ranking ties broken by cid."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_bruteforce(emb.filter(F.col("vec_id") < 5), emb, k=5)


@query(
    "q_c4_embedding_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(MAX(len(embedding)) AS BIGINT) AS dim,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_c4_embedding_stats(spark, sf_dir):
    """C4: multimodal/embedding column handling — per-label cardinality,
    dimensionality, mean L2 norm."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.max(F.size("embedding")).cast("long").alias("dim"),
        F.round(F.avg(l2_norm("embedding")), 6).alias("avg_norm"),
    )


def _plane_sign(b: int, j: int) -> float:
    """Deterministic +-1 for plane b, coordinate j (sha256 parity —
    stable across Python/Spark versions, no RNG state)."""
    import hashlib

    digest = hashlib.sha256(f"plane{b}_{j}".encode()).digest()
    return 1.0 if digest[0] % 2 == 0 else -1.0


def hyperplane_signature(vec, n_bits: int, dim: int):
    """Random-hyperplane LSH signature as an int bucket id:
    sign(dot(v, plane_b)) -> bit b.

    The planes are CONSTANTS, so they are baked into the plan as +-1
    literal arrays at build time. The previous formulation derived each
    sign per row via xxhash64 over a string concat — dim x n_bits string
    allocations + hashes per row, re-deriving the same constant plane
    for every vector; at corpus scale that's pure per-row overhead. Now
    per-row work is one multiply-add fold per bit and nothing else."""
    out = F.lit(0).cast("long")
    for b in range(n_bits):
        plane = F.lit([_plane_sign(b, j) for j in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def _plane_sql(b: int, dim: int = 64) -> str:
    """DuckDB literal array for plane ``b`` — the SAME sha256-parity
    constants `_plane_sign` bakes into the Spark plan, so the oracle's
    bucket assignment is the Spark bucket assignment by construction."""
    return "[" + ", ".join(
        "1.0" if _plane_sign(b, j) > 0 else "-1.0" for j in range(dim)
    ) + "]"


def _bucket_sql(vec_expr: str, n_bits: int = 4, dim: int = 64) -> str:
    """DuckDB expression for `hyperplane_signature`: per plane, the
    projection is list_zip+list_transform+list_sum — the fragment
    verified bit-exact with the Spark sequential fold (_COSINE_PAIRS_SQL
    precedent) — and the bucket id ORs the sign bits."""
    parts = []
    for b in range(n_bits):
        proj = (
            f"list_sum(list_transform(list_zip({vec_expr}, {_plane_sql(b, dim)}),"
            " s -> CAST(s[1] AS DOUBLE) * s[2]))"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def knn_cosine_ann(
    queries: DataFrame, corpus: DataFrame, k: int = 5, n_bits: int = 4, dim: int = 64
) -> DataFrame:
    """ANN top-k by hyperplane LSH: :func:`cosine_top_k` keyed on the
    ``n_bits`` hyperplane-sign bucket of both sides, so a query ranks
    only its own bucket (~2^-n_bits of the corpus). Recall vs brute
    force is asserted in tests (same-bucket probability rises with
    cosine similarity)."""
    bucket = hyperplane_signature(F.col("embedding"), n_bits, dim).alias("bucket")
    return cosine_top_k(
        _probe(queries, bucket), _corpus(widen(corpus), bucket), k, "bucket"
    )


def _c14_oracle() -> str:
    """q_c14's DuckDB oracle: the hyperplane signs are plan-time
    constants (_plane_sign), so the oracle bakes the same literal
    planes, buckets both sides, and ranks within the query's bucket."""
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM sig q JOIN sig c ON q.bucket = c.bucket
      WHERE q.vec_id < 5
    ),
    ranked AS (
      SELECT qid, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM pairs)
    SELECT qid, cid, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """


@query("q_c14_knn_ann_lsh", oracle=_c14_oracle())
def q_c14_knn_ann_lsh(spark, sf_dir):
    """C14 (extension): LSH-bucketed approximate top-5 — the 100 TB path
    when the corpus outgrows brute force.

    Oracle (round 11, was rows-only): the hyperplane planes are +-1
    plan-time constants, so the oracle reproduces bucket assignment,
    candidate blocking, and exact cosine ranking bit for bit (the
    q_c15 recipe applied to the top-k form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_ann(emb.filter(F.col("vec_id") < 5), emb, k=5)


def embedding_near_duplicates(
    df: DataFrame, threshold: float = 0.95, n_bits: int = 4, dim: int = 64
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH blocking + exact cosine
    verification (the semantic-dedup analogue of MinHash for text).

    Per-pair cost is ONE dot-product fold: L2 norms are computed once
    per row before the join (O(n·dim)) rather than inside the pairwise
    condition (O(pairs·dim) — 3x the fold work at sf0.1, worse as
    bucket occupancy grows)."""
    sig = widen(df).select(
        F.col("vec_id"),
        F.col("embedding"),
        l2_norm("embedding").alias("norm"),
        hyperplane_signature(F.col("embedding"), n_bits, dim).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# Shared by the q_c15 Spark plan and its oracle: the planted-clone
# jitter must be EXACT IEEE arithmetic (int ops + one double multiply)
# on both engines — the previous sin() ripple was not cross-engine
# bit-stable (JVM Math.sin and libm may differ in the last ulp).
_C15_ORACLE = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
),
clones AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding,
           (x, i) -> x + CAST((((i - 1) * 37) % 11) - 5 AS DOUBLE) * 0.001)
           AS embedding
  FROM base WHERE vec_id < 5
),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
sig AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x * x))) AS norm,
         {_bucket_sql("embedding")} AS bucket
  FROM allv
),
pairs AS (
  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  s -> s[1] * s[2])) / (a.norm * b.norm) AS sim
  FROM sig a JOIN sig b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_id_1, vec_id_2, sim FROM pairs WHERE sim >= 0.95
"""


@query("q_c15_embedding_neardup", oracle=_C15_ORACLE)
def q_c15_embedding_neardup(spark, sf_dir):
    """C15 (extension): embedding-cosine near-duplicate pairs
    (sim >= 0.95) with LSH candidate blocking.

    The synthetic fixture contains no natural sim>=0.95 pairs (max
    pairwise cosine ~0.33, verified by the exact brute-force sweep in
    tests/test_tier_c.py::test_embedding_neardup_planted_clones), so
    detection over the raw table alone is vacuous — the query would
    prove only that nothing crashes. To make the official run exercise
    the POSITIVE path, the query plants 5 jittered clones (vec_id +
    1,000,000, each coordinate nudged by a deterministic <=5e-3 ripple
    ((i*37 % 11 - 5) * 0.001 — integer ops + one double multiply, so
    both engines compute the identical double; cosine to its source
    ~0.9999) before detecting: every planted (i, i+1000000) pair must
    collide in an LSH band and clear the exact-cosine verify, so the
    result is >=5 rows by construction and each returned row is a real
    detection. This mirrors B69/B75's fabricate-then-audit pattern for
    resilience operators.

    Oracle (round 11, was rows-only): the hyperplane signs are
    plan-time sha256-parity CONSTANTS (`_plane_sign`), so the DuckDB
    oracle bakes the SAME +-1 literal planes into its SQL and mirrors
    bucket -> blocked self-join -> exact cosine; per-row double folds
    are bit-exact cross-engine (the _COSINE_PAIRS_SQL contract).

    Scale note: the plant is a fixed 5-row union — the detection path
    (signature, band join, verify) is identical to production, where
    the input would simply be the raw corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    clones = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            + (((i * F.lit(37)) % F.lit(11)) - F.lit(5)).cast("double")
            * F.lit(0.001),
        ).alias("embedding"),
    )
    return embedding_near_duplicates(base.unionByName(clones))


def knn_cosine_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-Flat ANN: partition the corpus into ``n_cells`` Voronoi cells
    around a small coarse quantizer, probe only the ``nprobe`` cells
    nearest each query.

    The quantizer is ``n_cells`` corpus vectors sampled deterministically
    by id — the IVF analogue of random k-means init, collected once on
    the driver (a LIMIT-sized pull regardless of corpus size). Each
    corpus vector's cell (top-1) and each query's probe cells
    (top-``nprobe``) come from :func:`ip_ranker` over that matrix: one
    numpy matmul per Arrow batch, the escape hatch for math Catalyst
    only expresses as a huge interpreted fold tree (the expression form
    cost ~12s of one-time codegen/analysis plus ~4x slower per-row
    eval). :func:`cosine_top_k` then joins the exploded probe cells to
    the corpus cells, the only shuffle, touching ~nprobe/n_cells of the
    corpus per query. At cluster scale the cell id doubles as a
    write-partition key so probes become partition-pruned scans."""
    sample = (
        corpus.orderBy("vec_id")
        .limit(n_cells)
        .select("embedding")
        .collect()
    )
    cmat = [r["embedding"] for r in sample]
    # Marked nondeterministic so the optimizer keeps the corpus ranker
    # where it is written: otherwise the join's inferred isnotnull(cell)
    # filter is pushed below widen's exchange, and the ranker runs a
    # second time there, over the one unwidened scan partition.
    nearest = ip_ranker(cmat, 1).asNondeterministic()
    probes = ip_ranker(cmat, nprobe)
    c = _corpus(widen(corpus), nearest("embedding")[0].alias("cell"))
    q = _probe(queries, F.explode(probes("embedding")).alias("cell"))
    return cosine_top_k(q, c, k, "cell")


# Dot product of two float-array expressions, cast-to-double, as the
# bit-exact list fold (the _COSINE_PAIRS_SQL fragment, parameterized).
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    def n(x: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({x},"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    return f"{_dot_sql(a, b)} / ({n(a)} * {n(b)})"


_C17_ORACLE = f"""
WITH quant AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
cdots AS (
  SELECT e.vec_id AS cid, e.embedding AS ce, q.cell,
         {_dot_sql('e.embedding', 'q.cemb')} AS d
  FROM embeddings e, quant q
),
assign AS (
  SELECT cid, ce, cell FROM (
    SELECT cid, ce, cell,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d DESC, cell) AS r
    FROM cdots) WHERE r = 1
),
qdots AS (
  SELECT e.vec_id AS qid, e.embedding AS qe, q.cell,
         {_dot_sql('e.embedding', 'q.cemb')} AS d
  FROM embeddings e, quant q WHERE e.vec_id < 5
),
probes AS (
  SELECT qid, qe, cell FROM (
    SELECT qid, qe, cell,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d DESC, cell) AS r
    FROM qdots) WHERE r <= 2
),
pairs AS (
  SELECT p.qid, a.cid, {_cos_sql('p.qe', 'a.ce')} AS sim
  FROM probes p JOIN assign a ON p.cell = a.cell
),
ranked AS (
  SELECT qid, cid, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
  FROM pairs)
SELECT qid, cid, sim, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5
"""


@query("q_c17_knn_ivf", oracle=_C17_ORACLE)
def q_c17_knn_ivf(spark, sf_dir):
    """C17 (extension): IVF-Flat approximate top-5 over the embedding
    corpus — the partition-pruned ANN path; recall vs brute force is
    asserted in tests alongside the LSH variant (C14).

    Oracle (round 11, was rows-only): the quantizer is the 16 smallest
    vec_ids — SQL-expressible — and every cell/probe decision has a
    measured margin >= 1.1e-5 across all fixture SFs (vs ~1e-16
    BLAS-vs-fold noise; tests/test_tier_c.py asserts the margin), so
    the oracle's fold-dot argmax reproduces the numpy assignment
    exactly and the final (qid, cid, sim, rnk) rows hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_ivf(emb.filter(F.col("vec_id") < 5), emb, k=5)


def knn_cosine_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 32,
) -> DataFrame:
    """Product-quantization ANN (PQ + ADC + exact rerank): the
    compressed-domain scale path. The corpus is encoded once into m
    sub-space codes (m bytes/vector here vs 256 bytes of float32 —
    64x smaller scan); each query precomputes an asymmetric-distance
    table (its dot product with every centroid of every sub-space,
    m*n_codes doubles) and a candidate's approximate score is m table
    LOOKUPS — plain Catalyst `element_at` arithmetic, no vector math
    per pair, whole-stage codegen. The top-``rerank`` candidates per
    query (:func:`rank_top_k` over the approximate score) are then
    re-scored by :func:`cosine_top_k`, keyed on the candidate ``cid``.

    Codebooks are ``n_codes`` deterministic corpus samples per
    sub-space (same init policy as the IVF quantizer), collected once
    driver-side. The encode is :func:`ip_ranker` with one group slice
    per sub-space (top-1 each), the table build one numpy matmul per
    sub-space and Arrow batch. At cluster scale the code table (id + m
    small ints) is the only thing the candidate stage scans, and PQ
    composes with IVF cells (encode residuals per cell) — documented,
    not needed at fixture scale.

    Candidate generation ranks by inner product (what ADC tables give);
    the exact-cosine rerank restores the metric — standard FAISS-style
    IVFADC shape."""
    from pyspark.sql.functions import pandas_udf

    sample = (
        corpus.orderBy("vec_id").limit(n_codes).select("embedding").collect()
    )
    smat = np.array([r["embedding"] for r in sample], dtype=np.float64)
    sub = smat.shape[1] // m
    slices = [slice(i * sub, (i + 1) * sub) for i in range(m)]
    encode = ip_ranker(smat, 1, slices)

    @pandas_udf("array<double>")
    def adc_table(col: pd.Series) -> pd.Series:
        x = np.stack(col.to_numpy())
        tabs = [x[:, s] @ smat[:, s].T for s in slices]
        return pd.Series(list(np.concatenate(tabs, axis=1)))

    codes = widen(corpus).select(
        F.col("vec_id").alias("cid"), encode("embedding").alias("codes")
    )
    qtabs = queries.select(
        F.col("vec_id").alias("qid"), adc_table("embedding").alias("tab")
    )
    approx = None
    for i in range(m):
        term = F.element_at(
            "tab", F.lit(i * n_codes + 1) + F.element_at("codes", i + 1)
        )
        approx = term if approx is None else approx + term
    cand = rank_top_k(
        F.broadcast(qtabs)
        .crossJoin(codes)
        .select("qid", "cid", approx.alias("approx")),
        rerank,
        "approx",
    ).select("qid", "cid")
    probe = cand.join(F.broadcast(_probe(queries)), "qid")
    return cosine_top_k(probe, _corpus(corpus), k, "cid")


def _c21_oracle(m: int = 4, n_codes: int = 16, sub: int = 16,
                rerank: int = 32, k: int = 5) -> str:
    """q_c21's DuckDB oracle: codebooks = the 16 smallest vec_ids,
    per-subspace argmax encode, ADC scores as fold-dots on list slices
    (1-based inclusive), top-``rerank`` candidates, exact-cosine
    top-``k`` rerank. Decision margins (code assignment >= 4.7e-6,
    rerank boundary >= 7.1e-5 across fixture SFs) dwarf BLAS-vs-fold
    float noise, so the candidate set matches numpy's exactly."""
    return f"""
    WITH quant AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code,
             embedding AS cemb
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
            LIMIT {n_codes})
    ),
    subs AS (SELECT unnest(range({m})) AS i),
    cdots AS (
      SELECT e.vec_id AS cid, s.i, q.code,
             {_dot_sql(f'e.embedding[s.i * {sub} + 1 : (s.i + 1) * {sub}]',
                       f'q.cemb[s.i * {sub} + 1 : (s.i + 1) * {sub}]')} AS d
      FROM embeddings e, subs s, quant q
    ),
    codes AS (
      SELECT cid, i, code FROM (
        SELECT cid, i, code,
               ROW_NUMBER() OVER (PARTITION BY cid, i
                                  ORDER BY d DESC, code) AS r
        FROM cdots) WHERE r = 1
    ),
    approx AS (
      SELECT q.vec_id AS qid, c.cid,
             SUM({_dot_sql(f'q.embedding[c.i * {sub} + 1 : (c.i + 1) * {sub}]',
                           f'b.cemb[c.i * {sub} + 1 : (c.i + 1) * {sub}]')})
               AS a
      FROM embeddings q, codes c JOIN quant b ON c.code = b.code
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, c.cid
    ),
    cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY a DESC, cid) AS r
        FROM approx) WHERE r <= {rerank}
    ),
    exact AS (
      SELECT cand.qid, cand.cid,
             {_cos_sql('qe.embedding', 'ce.embedding')} AS sim
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.qid
      JOIN embeddings ce ON ce.vec_id = cand.cid
    ),
    ranked AS (
      SELECT qid, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM exact)
    SELECT qid, cid, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {k}
    """


@query("q_c21_knn_pq", oracle=_c21_oracle())
def q_c21_knn_pq(spark, sf_dir):
    """C21 (extension): product-quantization ANN top-5 (ADC candidate
    generation over m-byte codes + exact cosine rerank); recall vs
    brute force asserted in tests alongside C14/C17.

    Oracle (round 11, was rows-only): codebooks are the 16 smallest
    vec_ids (SQL-expressible) and every encode/rerank decision has a
    measured margin >= 4.7e-6 across fixture SFs, so the oracle's
    fold-dot ADC reproduces the numpy candidate set exactly; the final
    rows are exact-cosine doubles computed identically by both
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_pq(emb.filter(F.col("vec_id") < 5), emb, k=5)


def kmeans_lloyd(
    corpus: DataFrame, k: int = 8, iters: int = 3
) -> DataFrame:
    """Assignments only — see :func:`kmeans_lloyd_with_centroids`."""
    return kmeans_lloyd_with_centroids(corpus, k, iters)[0]


def _km_assign_decl(base: DataFrame, cmat, vcol: str) -> DataFrame:
    """Declarative full-vector nearest-centroid assignment — the
    expression the DuckDB Lloyd oracles (:func:`_kmeans_cte_sql`)
    evaluate: per (row, cluster) the exact fixed-order d2 fold
    (`_pq_d2`), argmin via min_by with ties to the smaller cluster.
    Returns (vec_id, cluster, <vcol>, d2). Kept as the documented twin
    of :func:`_assign_np` (bit-identity pinned in
    tests/test_tier_c.py::test_km_assign_np_bit_identical); the hot
    paths run the Arrow-batched form."""
    spark = base.sparkSession
    cb = F.broadcast(
        spark.createDataFrame(
            [(c, [float(x) for x in row]) for c, row in enumerate(cmat)],
            "cluster int, cv array<double>",
        )
    )
    d2 = _pq_d2(F.col(vcol), F.col("cv"))
    return (
        base.join(cb, how="cross")
        .select("vec_id", vcol, "cluster", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cluster", vcol), F.struct("d2", "cluster")
            ).alias("b"),
            F.min(F.struct("d2", "cluster")).alias("w"),
        )
        .select(
            "vec_id",
            F.col("b.cluster").alias("cluster"),
            F.col(f"b.{vcol}").alias(vcol),
            F.col("w.d2").alias("d2"),
        )
    )


_KM_PREFILTER_MIN_K = 64


def _km_assign_batch(x: "np.ndarray", cvs: "np.ndarray", prefilter=None):
    """One batch of exact nearest-centroid assignment: returns
    (code_idx, d2) where code_idx indexes rows of ``cvs`` and d2 is the
    EXACT j-ascending-fold squared L2 to the winner — bit-identical to
    the declarative `_pq_d2` fold regardless of which arm ran.

    Two arms, same result:

    - plain (k < ``_KM_PREFILTER_MIN_K``): accumulate
      ``acc += dj * dj`` over ascending j for every (row, centroid) —
      the literal fold, n*k*dim work.
    - prefilter (k >= the threshold; C127's k = n/65 regime, where
      n*k*dim is the corpus-quadratic cost that dominated the 100x
      probe): compute approximate distances by BLAS
      (||x||^2 + ||c||^2 - 2 x.c — one dgemm), keep per row every
      centroid within a PROVEN error slack of the batch minimum, and
      run the exact fold only on those survivors (~1-3 per row).

      Exactness argument (a guaranteed superset, not a heuristic):
      every floating sum of m nonnegative (or mixed) terms t_j, in ANY
      association order, deviates from the exact value by at most
      ~m*u*sum|t_j| (u = 2^-53). For d2a = fl(xn + cn - 2G) that gives
      |d2a - d2_exact| <= C*u*(||x||^2 + ||c||^2) with C a small
      multiple of dim — the ABSOLUTE form matters because the matmul
      identity cancels catastrophically exactly where C127's planted
      near-clones live (d2 -> 0 while the bound stays ~u*||x||^2).
      The fold arm's own error is <= dim*u*d2 <= the same bound. With
      slack = 4096*u*(xn + max cn) (>= 5x the worst constant for
      dim=64), the true fold-winner w satisfies
      d2a(w) <= d2(w) + slack <= d2(c) + slack <= d2a(c) + 2*slack
      for every c — so w (and every exact tie) survives the
      ``d2a <= min(d2a) + 2*slack`` cut, and the exact fold over
      survivors decides with the identical doubles. Ties resolve by
      lexsort (row, d2, code): first per row == smaller code on equal
      d2 == Spark's min(struct(d2, cluster)). Asserted against the
      plain arm (both forced) in
      tests/test_tier_c.py::test_km_assign_prefilter_bit_identical.
    """
    n = x.shape[0]
    k = cvs.shape[0]
    if prefilter is None:
        prefilter = k >= _KM_PREFILTER_MIN_K
    if not prefilter:
        acc = np.zeros((n, k))
        for j in range(x.shape[1]):
            dj = x[:, j][:, None] - cvs[None, :, j]
            acc += dj * dj
        best = np.argmin(acc, axis=1)
        return best, acc[np.arange(n), best]
    xn = (x * x).sum(axis=1)
    cn = (cvs * cvs).sum(axis=1)
    d2a = xn[:, None] + cn[None, :] - 2.0 * (x @ cvs.T)
    slack = 4096.0 * 2.0**-53 * (xn + cn.max())
    keep_r, keep_c = np.nonzero(
        d2a <= (d2a.min(axis=1) + 2.0 * slack)[:, None]
    )
    # exact fold over the survivors only, ascending j — the identical
    # IEEE operation sequence per element as the plain arm
    xs = x[keep_r]
    cs = cvs[keep_c]
    acc = np.zeros(len(keep_r))
    for j in range(x.shape[1]):
        dj = xs[:, j] - cs[:, j]
        acc += dj * dj
    order = np.lexsort((keep_c, acc, keep_r))
    # rows appear grouped ascending after the lexsort and every row
    # keeps at least its own minimum, so the first occurrence per row
    # IS the (min d2, then min code) winner, already row-ordered
    sel = order[np.unique(keep_r[order], return_index=True)[1]]
    return keep_c[sel], acc[sel]


def _assign_np(
    points: DataFrame,
    book: dict,
    vcol: str,
    vtype: str,
    group: str | None = None,
    carry: str | None = None,
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment, the one assigner of
    the k-means / PQ / IVF-quantizer family: squared L2 with ties to
    the smaller code, returning (vec_id, [group], <vcol>, [carry],
    code, d2). ``book`` maps each cell to its centroid: the cell is the
    code for full vectors, or ``(group value, code)`` when ``group``
    names a column (PQ's subspace) whose rows each assign against their
    own group's codes. Per Arrow batch and group the work is one
    :func:`_km_assign_batch` call, and each input row emits its winner
    directly: no k-times row blow-up and no groupBy(vec_id) shuffle.
    ``carry`` passes one int column through unchanged (the previous
    round's code, see :func:`lloyd`).

    BIT-IDENTITY with the declarative twins :func:`_km_assign_decl` and
    :func:`_pq_assign` (what keeps the Lloyd-family hash oracles
    unchanged): (1) the declarative fold computes
    ``acc := acc + (double(v[j]) - cv[j])^2`` left-to-right over
    ascending j in IEEE float64, and ``_km_assign_batch``'s plain arm
    runs ``acc += dj * dj`` over the same j, so every d2 is the same
    double (its k >= 64 prefilter arm is proven identical in its own
    docstring); (2) float32 -> float64 casts are exact and Arrow
    transfers are lossless both ways; (3) centroid doubles are used
    exactly as the declarative arm embeds them (round 0: float() of
    float32 values; later rounds: the dsum-decimal means s/n, the same
    IEEE division as the oracles' ``m.s / m.n``); (4) codes are laid
    out ascending and ``np.argmin`` returns the first minimum, so equal
    d2 doubles pick the smaller code, as Spark's ``min(struct(d2,
    code))`` does. Pinned column-for-column against both twins on two
    centroid generations in
    tests/test_tier_c.py::test_km_assign_np_bit_identical and
    ::test_pq_assign_np_bit_identical.

    Scale: the book is a k x dim driver-side closure (model-sized,
    never corpus-sized); corpus rows stream through Arrow batches with
    no per-row Python loop and no shuffle."""
    by_group: dict = {}
    for cell in sorted(book):
        g, code = cell if group else (None, cell)
        by_group.setdefault(g, []).append((code, book[cell]))
    mats = {
        g: (
            np.array([c for c, _ in v]),
            np.array([cv for _, cv in v], dtype=np.float64),
        )
        for g, v in by_group.items()
    }
    cols = [("vec_id", "long")] + ([(group, "long")] if group else [])
    cols += [(vcol, vtype)] + ([(carry, "int")] if carry else [])
    keep = [c for c, _ in cols]

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vcol].to_numpy()).astype(np.float64)
            code = np.empty(len(pdf), dtype=np.int32)
            d2 = np.empty(len(pdf))
            parts = (
                pdf.groupby(group).indices.items()
                if group
                else [(None, slice(None))]
            )
            for g, idx in parts:
                codes, cvs = mats[g]
                best, d2[idx] = _km_assign_batch(x[idx], cvs)
                code[idx] = codes[best]
            out = pdf[keep].copy()
            out["code"] = code
            out["d2"] = d2
            yield out

    out_cols = cols + [("code", "int"), ("d2", "double")]
    return points.mapInPandas(
        assign, ", ".join(f"{c} {t}" for c, t in out_cols)
    )


LloydRound = namedtuple(
    "LloydRound",
    "round n_moved distortion rel_improvement n_nonempty max_cell_n"
    " converged",
)


def lloyd(
    points: DataFrame,
    book: dict,
    *,
    vcol: str,
    max_rounds: int,
    eps: float | None = None,
    group: str | None = None,
):
    """Lloyd's algorithm over ``points`` (vec_id, [group], <vcol>) from
    the seed ``book`` (``{code: centroid}``, or ``{(group value, code):
    centroid}`` for per-group codebooks such as PQ's subspaces) — the
    one driver behind every k-means / PQ / IVF-quantizer query (q_c30,
    q_c44, q_c127, q_c134, q_c137, q_c140, q_c142, q_c145). Returns
    ``(assigned, book, trace)``: the last round's assignment
    (vec_id, [group], <vcol>, [prev], code, d2), the book re-centered
    on it, and one :class:`LloydRound` per executed round.

    One round:

    1. ASSIGN with :func:`_assign_np` over the previous round's output,
       the previous code riding along as ``prev``, lazily
       localCheckpoint-ed: the round's aggregate, the next round and
       the caller all read it, and the checkpoint materializes inside
       the aggregate instead of paying a job of its own.
    2. AGGREGATE ONCE: posexplode(<vcol>) + groupBy(cell, pos) gives
       every (cell, pos) its member count and the exact dsum of the
       component (DECIMAL(38,6): the same double in any partial-
       aggregation order and in DuckDB), and on the pos == 0 rows the
       cell's DECIMAL(38,6) d2 partial and moved count. That is one
       corpus pass per round: one shuffle-map job plus the fetch of
       the k*dim result rows.
    3. FOLD ON THE DRIVER: centroids s / n (the IEEE division of the
       oracles' ``m.s / m.n``; empty cells keep their old centroid);
       the distortion as the exact Decimal sum of the partials,
       converted once with float() — the same correctly rounded double
       as CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) in Spark and
       DuckDB; n_moved, occupied cells, the largest cell; the relative
       improvement over the previous round. With ``eps`` the loop stops
       after the first round improving by less than ``eps``, otherwise
       after ``max_rounds``.

    Driver state is the k x dim book, never corpus-sized, and each
    round's plan starts from a checkpoint and literal centroids, so
    the plan does not grow with a data-dependent round count."""
    vtype = points.schema[vcol].dataType.simpleString()
    keys = ["vec_id"] + ([group] if group else []) + [vcol]
    cell = ([group] if group else []) + ["code"]
    cur = widen(points, _assign_width(points)).select(*keys)
    first = F.col("pos") == 0
    trace: list[LloydRound] = []
    for r in range(max_rounds):
        assigned = _assign_np(
            cur, book, vcol, vtype, group, carry="prev" if r else None
        ).localCheckpoint(eager=False)
        moved = F.col("code") != F.col("prev") if r else F.lit(False)
        stats = (
            assigned.select(
                *cell,
                "d2",
                moved.cast("long").alias("mv"),
                F.posexplode(vcol).alias("pos", "v"),
            )
            .groupBy(*cell, "pos")
            .agg(
                F.count("*").alias("n"),
                dsum(F.col("v").cast("double")).alias("s"),
                F.sum(F.when(first, F.col("d2").cast("decimal(38,6)"))).alias(
                    "d"
                ),
                F.sum(F.when(first, F.col("mv"))).alias("m"),
            )
            .collect()
        )
        book = {c: list(cv) for c, cv in book.items()}
        for x in stats:
            c = (x[group], x["code"]) if group else x["code"]
            book[c][x["pos"]] = x["s"] / x["n"]
        heads = [x for x in stats if x["pos"] == 0]
        with localcontext(prec=80):  # exact: no partial is rounded
            distortion = float(sum((x["d"] for x in heads), Decimal(0)))
        prev = trace[-1].distortion if trace else None
        rel = None if prev is None else (prev - distortion) / prev
        converged = eps is not None and rel is not None and rel < eps
        trace.append(
            LloydRound(
                r,
                sum(x["m"] for x in heads),
                distortion,
                rel,
                len(heads),
                max(x["n"] for x in heads),
                converged,
            )
        )
        if converged:
            break
        cur = assigned.select(*keys, F.col("code").alias("prev"))
    return assigned, book, trace


def _seed_book(corpus: DataFrame, k: int) -> dict:
    """{code: centroid} seeded with the first ``k`` vectors by id — the
    deterministic policy of every full-vector quantizer here (IVF, PQ
    and k-means alike)."""
    rows = corpus.orderBy("vec_id").limit(k).select("embedding").collect()
    return {c: [float(x) for x in r["embedding"]] for c, r in enumerate(rows)}


def kmeans_lloyd_with_centroids(
    corpus: DataFrame, k: int = 8, iters: int = 3
):
    """Lloyd's k-means over the embedding column — the clustering pass a
    curation pipeline runs for topic balancing / diversity sampling.
    Returns the last round's (vec_id, cluster) assignment and the k x
    dim centroid matrix re-centered on it.

    Init is the first ``k`` vectors by id (deterministic; same policy as
    the IVF/PQ quantizers); ``iters`` fixed rounds of :func:`lloyd`, no
    gate. Every value is the one the DuckDB oracle evaluates —
    fold-order d2 with ties to the smaller cluster, exact decimal
    means, double division — so assignments are bit-identical across
    engines and q_c30/q_c44/q_c127 carry full hash oracles."""
    book = _seed_book(corpus, k)
    assigned, book, _ = lloyd(
        corpus.select("vec_id", "embedding"),
        book,
        vcol="embedding",
        max_rounds=iters,
    )
    return (
        assigned.select("vec_id", F.col("code").alias("cluster")),
        np.array([book[c] for c in range(len(book))]),
    )


def _kmeans_cte_sql(
    k_sql: str, iters: int, dim: int, base_cte: str = "base"
) -> str:
    """WITH-chain fragments for the declarative Lloyd oracle (C137's
    recipe generalized to full vectors and N unrolled rounds): expects a
    CTE ``base(vec_id, e)`` with e already cast to DOUBLE[], emits
    cb0..cb{iters-1} and a0..a{iters-1}; the last assignment CTE is
    ``a{iters-1}``. ``k_sql`` may be a literal or a scalar subquery so
    data-dependent k (C127's n/65 policy) stays SQL-expressible."""

    def d2(e: str, cv: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" j -> ({e}[j] - {cv}[j]) * ({e}[j] - {cv}[j])))"
        )

    parts = [
        f"""cb0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, e AS cv
      FROM (SELECT vec_id, e,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS _r
            FROM {base_cte})
      WHERE _r <= {k_sql}
    )"""
    ]
    for r in range(iters):
        parts.append(
            f"""a{r} AS (
      SELECT vec_id, e, cluster, d2 FROM (
        SELECT b.vec_id, b.e, c.cluster,
               {d2('b.e', 'c.cv')} AS d2,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY {d2('b.e', 'c.cv')}, c.cluster) AS rn
        FROM {base_cte} b, cb{r} c)
      WHERE rn = 1
    )"""
        )
        # cb{r+1} is emitted even after the last assignment round:
        # C44's medoid distances read the post-update centroids (cb3
        # for k=8/iters=3), exactly as the Spark loop returns them.
        parts.append(
            f"""m{r + 1} AS (
      SELECT cluster, CAST(r.j AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(e[r.j] AS DECIMAL(38,6))) AS DOUBLE) AS s
      FROM a{r}, UNNEST(range(1, {dim + 1})) AS r(j)
      GROUP BY cluster, r.j
    )"""
        )
        parts.append(
            f"""cb{r + 1} AS (
      SELECT cluster, list(c ORDER BY dim) AS cv FROM (
        SELECT o.cluster, o.dim, COALESCE(m.s / m.n, o.old_c) AS c
        FROM (SELECT cluster, CAST(r.j AS BIGINT) AS dim, cv[r.j] AS old_c
              FROM cb{r}, UNNEST(range(1, {dim + 1})) AS r(j)) o
        LEFT JOIN m{r + 1} m ON m.cluster = o.cluster AND m.dim = o.dim)
      GROUP BY cluster
    )"""
        )
    return ",\n    ".join(parts)


_C30_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
{_kmeans_cte_sql('8', 3, 64)}
SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM a2
"""


@query("q_c30_kmeans", oracle=_C30_ORACLE)
def q_c30_kmeans(spark, sf_dir):
    """C30 (extension): k-means clustering of the embedding corpus
    (k=8, 3 Lloyd iterations). Invariants — every vector assigned
    exactly once, clusters in range, inertia non-increasing with more
    iterations, deterministic rerun — are asserted in tests.

    Oracle (round 11, was rows-only): kmeans_lloyd computes the
    exact-arithmetic Lloyd (fold-order d2 + DECIMAL re-centering, the
    C134/C137 recipe), so the DuckDB unrolled-round mirror reproduces
    every assignment bit for bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, iters=3)


def knn_cosine_random_projection(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rdim: int = 24,
    rerank: int = 64,
) -> DataFrame:
    """Random-projection ANN (Johnson-Lindenstrauss coarse search +
    exact rerank): project every vector through one fixed seeded
    Gaussian matrix to ``rdim`` dims, rank candidates by cosine in the
    projected space (a 2.7x-narrower scan), then re-score the top
    ``rerank`` per query with exact full-dimension cosine. Both stages
    are :func:`cosine_top_k`: the coarse one unkeyed over the projected
    vectors, the rerank keyed on the candidate ``cid``.

    This is the dimensionality-reduction rung of the ANN ladder — the
    preprocessing FAISS calls OPQ/PCA-then-search: C14 buckets by
    hyperplane sign (discrete, recall from bucket collisions), this
    keeps a continuous score in a smaller space (recall from distance
    preservation — JL: inner products distort by ~sqrt(ln n / rdim)).

    Scale: the projection is computed ONCE per vector (at ingest it
    would be a stored column); the coarse stage scans rdim floats per
    row instead of dim — with column pruning the full vectors are read
    only for the ~rerank x n_queries candidate rows. The projection
    matrix is rdim x dim floats in every executor's closure —
    broadcast-sized by construction."""
    from pyspark.sql.functions import pandas_udf

    dim = corpus.select(F.size("embedding")).first()[0]
    rng = np.random.default_rng(42)
    R = rng.standard_normal((dim, rdim)) / np.sqrt(rdim)

    @pandas_udf("array<float>")
    def project(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy())
        return pd.Series(list((m @ R).astype("float32")))

    c = _corpus(widen(corpus), project("embedding").alias("cp"))
    q = _probe(queries, project("embedding").alias("qp"))
    coarse = cosine_top_k(
        q.select("qid", F.col("qp").alias("qe")),
        c.select("cid", F.col("cp").alias("ce")),
        rerank,
    )
    probe = coarse.select("qid", "cid").join(
        F.broadcast(q.select("qid", "qe")), "qid"
    )
    return cosine_top_k(probe, c.select("cid", "ce"), k, "cid")


def _c39_oracle(dim: int = 64, rdim: int = 24, rerank: int = 64,
                k: int = 5) -> str:
    """q_c39's DuckDB oracle: the projection matrix is a deterministic
    plan-time constant (np rng(42) — reproduced here and baked in as
    repr-exact literals), and the float32 cast after projection absorbs
    BLAS-vs-fold float64 noise (verified bit-equal at every fixture SF;
    rank-64 boundary margins >= 1.3e-4), so the coarse candidate set
    and exact rerank match numpy's exactly."""
    R = np.random.default_rng(42).standard_normal((dim, rdim)) / np.sqrt(rdim)
    cols = []
    for j in range(rdim):
        lit = "[" + ", ".join(repr(float(R[i, j])) for i in range(dim)) + "]"
        cols.append(f"CAST({_dot_sql('embedding', lit)} AS FLOAT)")
    proj = "[" + ", ".join(cols) + "]"
    return f"""
    WITH proj AS (
      SELECT vec_id, embedding, {proj} AS p FROM embeddings
    ),
    coarse AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {_cos_sql('q.p', 'c.p')} AS csim
      FROM proj q, proj c WHERE q.vec_id < 5
    ),
    cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY csim DESC, cid) AS r
        FROM coarse) WHERE r <= {rerank}
    ),
    exact AS (
      SELECT cand.qid, cand.cid,
             {_cos_sql('qe.embedding', 'ce.embedding')} AS sim
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.qid
      JOIN embeddings ce ON ce.vec_id = cand.cid
    ),
    ranked AS (
      SELECT qid, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM exact)
    SELECT qid, cid, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {k}
    """


@query("q_c39_knn_random_projection", oracle=_c39_oracle())
def q_c39_knn_random_projection(spark, sf_dir):
    """C39 (extension): random-projection (JL) approximate top-5 — the
    reduced-dimension coarse search + exact rerank; recall vs brute
    force asserted in tests alongside C14/C17/C21. rdim=24/rerank=64
    for 64-dim inputs: this fixture's neighbors are NEAR-TIES (top-2
    cosine 0.334, rank-30 still 0.204), so JL noise ~sqrt(ln n/rdim)
    reshuffles ranks aggressively — measured exact-top-5 containment
    in the coarse top-32: 12/25 at rdim=8, 11/25 at 16, 14/25 at 24;
    18/25 in the top-64 at rdim=24. On data with real cluster gaps the
    same machinery needs far smaller rdim; the knob trades coarse-scan
    width against the data's similarity-gap structure, and the rerank
    depth buys recall linearly in scan cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_random_projection(
        emb.filter(F.col("vec_id") < 5), emb, k=5
    )


@query(
    "q_c43_embedding_winsorize",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(r.i AS INTEGER) - 1 AS pos,
             CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ), b AS (
      SELECT pos, quantile_disc(v, 0.05) AS lo, quantile_disc(v, 0.95) AS hi
      FROM dims GROUP BY pos
    )
    SELECT d.vec_id, d.pos,
           ROUND(LEAST(GREATEST(d.v, b.lo), b.hi), 6) AS clipped
    FROM dims d JOIN b USING (pos)
    """,
)
def q_c43_embedding_winsorize(spark, sf_dir):
    """C43 (extension): per-dimension winsorization of the embedding
    corpus — every coordinate clipped to its dimension's [p05, p95]
    range. The outlier-taming preprocessing step before quantization
    (C17/C21's codebooks are least-squares-ish fits that a handful of
    extreme coordinates can drag) and before cosine ANN generally.

    Scale: pass 1 computes per-dimension bounds with the mergeable GK
    sketch (C31's machinery: map-side partials, rank-exact below ~1M
    values per dimension at accuracy=1e6, ±n/1e6 rank error beyond —
    the documented degrade is sketch accuracy, never a bigger
    shuffle); the posexplode fans out to dim x n rows but aggregates
    straight down to ONE row of 2 x dim doubles. Pass 2 broadcasts
    that row and clips with a nested zip_with — per-row, zero
    shuffle, no Python. The clip is elementwise GREATEST/LEAST inside
    codegen; ROUND(6) bounds float-vs-double cast noise against the
    oracle.

    Output shape is LONG — one (vec_id, pos, clipped) row per
    coordinate via posexplode, mirroring the oracle's UNNEST — rather
    than re-packed arrays: scalar rows are directly hash-comparable
    (the round driver's pandas canonicalizer cannot sort list cells)
    and are the layout per-dimension consumers (quantizer training,
    per-dim stats) want anyway; C43's wide writer would just be
    `groupBy(vec_id).agg(array_sort(collect_list(struct(pos,
    clipped))))`."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = widen(emb).select(
        F.posexplode("embedding").alias("pos", "v")
    ).select("pos", F.col("v").cast("double").alias("v"))
    bounds = dims.groupBy("pos").agg(
        F.percentile_approx("v", 0.05, 1_000_000).alias("lo"),
        F.percentile_approx("v", 0.95, 1_000_000).alias("hi"),
    )
    arrays = bounds.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))),
            lambda s: s["lo"],
        ).alias("lo_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi"))),
            lambda s: s["hi"],
        ).alias("hi_arr"),
    )
    clip_lo = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.col("lo_arr"),
        lambda v, lo: F.greatest(v, lo),
    )
    clipped = F.transform(
        F.zip_with(clip_lo, F.col("hi_arr"), lambda v, hi: F.least(v, hi)),
        lambda x: F.round(x, 6),
    )
    return (
        emb.crossJoin(F.broadcast(arrays))
        .select("vec_id", F.posexplode(clipped).alias("pos", "clipped"))
    )


_C44_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
{_kmeans_cte_sql('8', 3, 64)},
dists AS (
  SELECT a.vec_id, a.cluster,
         sqrt(list_sum(list_transform(range(1, 65),
              j -> (a.e[j] - c.cv[j]) * (a.e[j] - c.cv[j])))) AS dist
  FROM a2 a JOIN cb3 c ON c.cluster = a.cluster
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       vec_id AS medoid_vec_id,
       ROUND(dist, 6) AS dist
FROM (SELECT cluster, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY dist, vec_id) AS rn
      FROM dists)
WHERE rn = 1
"""


@query("q_c44_coreset_medoids", oracle=_C44_ORACLE)
def q_c44_coreset_medoids(spark, sf_dir):
    """C44 (extension): core-set selection — the medoid (vector nearest
    its cluster's centroid) of every k-means cluster, with its
    distance. The diversity-sampling rung of the curation ladder: a
    k-row subset that covers the embedding space's modes, the
    structure SemDeDup-style semantic pruning and "pick one exemplar
    per topic" curation both start from. Composes with C30 (the
    clustering) and contrasts with C22's uniform hash sample: uniform
    keeps density, medoids keep COVERAGE.

    Oracle (round 11, was rows-only): rides the declarative Lloyd
    (q_c30's recipe) — distances are the same sqrt-of-fold-d2 against
    the post-update centroids (cb3) both engines evaluate identically.

    Scale: distances are one broadcast-join fold pass (centroid table
    k x dim — model-broadcast-sized); medoid selection is a per-cluster
    min via the same WindowGroupLimit-eligible rank<=1 window as C33 —
    per-task pre-limit, k final rows. Invariants (one medoid per
    non-empty cluster, its distance is the cluster minimum,
    determinism) are asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cmat = kmeans_lloyd_with_centroids(emb, k=8, iters=3)
    cb = F.broadcast(
        values_df(
            spark,
            [(c, [float(x) for x in row]) for c, row in enumerate(cmat)],
            "cluster int, cv array<double>",
        )
    )
    with_dist = (
        emb.select("vec_id", "embedding")
        .join(assigned.select("vec_id", "cluster"), "vec_id")
        .join(cb, "cluster")
        .select(
            "vec_id",
            "cluster",
            F.sqrt(_pq_d2(F.col("embedding"), F.col("cv"))).alias("dist"),
        )
    )
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    return (
        with_dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("vec_id").alias("medoid_vec_id"),
            F.round("dist", 6).alias("dist"),
        )
    )


@query(
    "q_c53_int8_quantize",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(r.i AS INTEGER) - 1 AS pos,
             CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ), b AS (
      SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM dims GROUP BY pos
    ), q AS (
      SELECT d.vec_id, d.pos, d.v, b.lo, b.hi,
             CAST(CASE WHEN b.hi > b.lo
                       THEN floor((d.v - b.lo) * 255 / (b.hi - b.lo) + 0.5)
                       ELSE 0 END AS INTEGER) AS q8
      FROM dims d JOIN b USING (pos)
    )
    SELECT vec_id, pos, q8,
           ROUND(abs(v - (lo + CAST(q8 AS DOUBLE) * (hi - lo) / 255)), 6)
             AS recon_err
    FROM q
    """,
)
def q_c53_int8_quantize(spark, sf_dir):
    """C53 (extension): per-dimension affine int8 quantization of the
    embedding corpus — each coordinate mapped to round((v - lo) * 255
    / (hi - lo)) against its dimension's exact [min, max], emitted
    long-form (vec_id, pos, q8) with the per-coordinate
    reconstruction error. The storage-compression rung of the ANN
    ladder: 4x smaller vectors than float32 (the C21 PQ codebook
    compresses further but lossier), and the standard serving format
    for int8 SIMD distance kernels. C43 (winsorize) is the
    preprocessing that tightens [lo, hi] against outliers; this
    operator quantizes whatever range it is given.

    round() is spelled floor(x + 0.5) explicitly: both engines
    compute the identical IEEE double expression, so the int codes
    hash-compare exactly — a native round() would pit Spark
    HALF_UP against DuckDB round-half-even on .5 boundaries.

    Scale: pass 1 aggregates the posexploded corpus straight down to
    dim rows of (lo, hi) — map-side-combined min/max, one tiny
    shuffle; pass 2 re-explodes and broadcast-joins the dim-row
    bounds table, so the corpus itself never shuffles. The constant-
    dimension guard (hi == lo -> code 0) keeps degenerate dims from
    NaN-ing the batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = widen(emb).select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    bounds = dims.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    joined = dims.join(F.broadcast(bounds), "pos")
    q8 = (
        F.when(
            F.col("hi") > F.col("lo"),
            F.floor(
                (F.col("v") - F.col("lo")) * 255 / (F.col("hi") - F.col("lo"))
                + 0.5
            ),
        )
        .otherwise(0)
        .cast("int")
    )
    return joined.select(
        "vec_id",
        "pos",
        q8.alias("q8"),
        F.round(
            F.abs(
                F.col("v")
                - (
                    F.col("lo")
                    + q8.cast("double") * (F.col("hi") - F.col("lo")) / 255
                )
            ),
            6,
        ).alias("recon_err"),
    )


@query(
    "q_c57_embedding_outliers",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, CAST(r.i AS INTEGER) - 1 AS pos,
             CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ), stats AS (
      SELECT label, pos, AVG(v) AS mu, stddev_pop(v) AS sd
      FROM dims GROUP BY label, pos
    ), z AS (
      SELECT d.vec_id, d.label,
             abs(d.v - s.mu) / s.sd AS absz
      FROM dims d JOIN stats s ON d.label = s.label AND d.pos = s.pos
      WHERE s.sd > 0
    )
    SELECT vec_id, label,
           ROUND(MAX(absz), 6) AS max_absz,
           CAST(COUNT(*) FILTER (absz > 3) AS BIGINT) AS n_extreme,
           (MAX(absz) > 4) AS is_outlier
    FROM z GROUP BY vec_id, label
    """,
)
def q_c57_embedding_outliers(spark, sf_dir):
    """C57 (extension): embedding outlier audit — per-coordinate
    z-scores against the vector's OWN label cohort (per-(label, dim)
    mean and population stddev), rolled up per vector to max |z| and
    the count of >3-sigma coordinates. The embedding-space data-quality
    gate: encoder glitches, mixed-up modalities, and near-zero
    degenerate vectors all surface as coordinate-level extremes that
    corpus-wide norms (C4) average away. Feeds the curation ladder the
    same way C41 (source drift) audits text.

    Scale: pass 1 aggregates the posexploded corpus to label x dim
    stat rows (map-side combined); pass 2 re-explodes and joins the
    KB-sized stats table — broadcast, corpus never shuffles — then
    one vec_id rollup. Same two-pass broadcast-bounds shape as C43/
    C53; the diagonal-covariance approximation is the documented
    trade (full Mahalanobis needs a dim x dim matrix per label —
    still driver-sized at 64 dims, but quadratic in dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = widen(emb).select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    stats = dims.groupBy("label", "pos").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    )
    absz = F.abs(F.col("v") - F.col("mu")) / F.col("sd")
    z = (
        dims.join(F.broadcast(stats), ["label", "pos"])
        .filter(F.col("sd") > 0)
        .select("vec_id", "label", absz.alias("absz"))
    )
    return z.groupBy("vec_id", "label").agg(
        F.round(F.max("absz"), 6).alias("max_absz"),
        F.count(F.when(F.col("absz") > 3, 1)).cast("long").alias("n_extreme"),
        (F.max("absz") > 4).alias("is_outlier"),
    )


@query(
    "q_c79_contrastive_pairs",
    oracle="""
    WITH pairs AS (
        SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
               (q.label = c.label) AS same_label,
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS sim
        FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings c
        WHERE q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT anchor_id, cand_id, same_label, sim,
               ROW_NUMBER() OVER (PARTITION BY anchor_id, same_label
                                  ORDER BY sim DESC, cand_id) AS rnk
        FROM pairs
    )
    SELECT anchor_id, cand_id, same_label, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_c79_contrastive_pairs(spark, sf_dir):
    """C79 (extension): contrastive training-pair mining — for each
    anchor vector, the 3 nearest SAME-label vectors (positives) and
    the 3 nearest DIFFERENT-label vectors (hard negatives, the
    highest-similarity impostors). This is the pair-construction step
    behind contrastive embedding training (SimCLR/InfoNCE-style) and
    behind reranker distillation: random negatives are trivially easy,
    and models only sharpen on the near-miss ones — which are exactly
    a top-k-by-similarity query per anchor, stratified by label
    agreement. One window over (anchor, same_label) produces both
    lists in a single pass; cosine stays unrounded double (per-row
    IEEE arithmetic, C3's proven discipline), ties break on cand_id.

    Scale: C3's broadcast-anchors shape — anchors are the small side
    by construction (a mining batch), the corpus is map-side scanned
    once, and the per-anchor state is two k-sized heaps
    (WindowGroupLimit prunes pre-shuffle). For anchor sets too big to
    broadcast, the documented ladder applies unchanged: C14/C17/C39
    candidate generation first, this stratified rank as the verify
    stage — the label-split window composes with any of them."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    c = widen(emb).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            (F.col("q_label") == F.col("c_label")).alias("same_label"),
            cosine_similarity(F.col("qe"), F.col("ce")).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id", "same_label").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("anchor_id", "cand_id", "same_label", "sim", "rnk")
    )


@query(
    "q_c85_embedding_source_drift",
    oracle="""
    WITH j AS (
      SELECT d.source, e.embedding
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ), dims AS (
      SELECT source, CAST(r.i AS INTEGER) - 1 AS dim,
             CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE) AS v
      FROM j, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ), per_src AS (
      SELECT source, dim, ROUND(AVG(v), 6) AS comp,
             COUNT(*) AS n_vectors
      FROM dims GROUP BY source, dim
    ), gcent AS (
      SELECT dim, ROUND(AVG(v), 6) AS gcomp FROM dims GROUP BY dim
    )
    SELECT s.source,
           CAST(MAX(s.n_vectors) AS BIGINT) AS n_vectors,
           ROUND(SUM(s.comp * g.gcomp)
                 / (sqrt(SUM(s.comp * s.comp))
                    * sqrt(SUM(g.gcomp * g.gcomp))), 6) AS centroid_cos
    FROM per_src s JOIN gcent g USING (dim)
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def q_c85_embedding_source_drift(spark, sf_dir):
    """C85 (extension): SEMANTIC source drift — each source's embedding
    centroid scored by cosine against the global corpus centroid. C41
    catches drift in token distributions; this catches what tokens
    can't (a source whose vocabulary is normal but whose content moved
    — translated spam, template farms, topic capture). A source whose
    centroid_cos drops across snapshots is the embedding-space alarm
    that triggers C57's per-vector outlier triage.

    Shape: embeddings broadcast-join documents for provenance,
    posexplode to (source, dim, value), ONE map-side-combined
    aggregation to per-(source, dim) means — the corpus collapses to
    |sources| x dim rows right there — then the cosine folds over the
    dim-sized centroid table. Means are rounded to 6dp BEFORE the
    cosine on both engines (the c4 convention: small-magnitude AVG is
    cross-engine stable at 6dp), so the cosine consumes identical
    inputs and its own 64-term sum noise (~1e-16) vanishes in the
    final 6dp round.

    Scale: the explode is dim x |corpus| rows but feeds straight into
    partial aggregation (no shuffle of raw vectors — only
    |sources| x dim partials move); everything after is centroid-table
    arithmetic. 100 TB of embeddings costs one pass + a keys-sized
    shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    dims = (
        emb.join(F.broadcast(docs), "vec_id")
        .select(
            "source",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "v"
            ),
        )
    )
    per_src = dims.groupBy("source", "dim").agg(
        F.round(F.avg("v"), 6).alias("comp"),
        F.count("*").alias("n_vectors"),
    )
    glob = dims.groupBy("dim").agg(F.round(F.avg("v"), 6).alias("gcomp"))
    return (
        per_src.join(F.broadcast(glob), "dim")
        .groupBy("source")
        .agg(
            F.max("n_vectors").cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.col("comp") * F.col("gcomp"))
                / (
                    F.sqrt(F.sum(F.col("comp") * F.col("comp")))
                    * F.sqrt(F.sum(F.col("gcomp") * F.col("gcomp")))
                ),
                6,
            ).alias("centroid_cos"),
        )
        .orderBy("source")
    )


@query(
    "q_c89_knn_matmul",
    oracle=f"""
    WITH pairs AS ({_COSINE_PAIRS_SQL}),
    ranked AS (
      SELECT qid, cid, ROUND(sim, 6) AS sim_r,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ROUND(sim, 6) DESC, cid) AS rnk
      FROM pairs)
    SELECT qid, cid, sim_r, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_c89_knn_matmul(spark, sf_dir):
    """C89 (extension): exact brute-force kNN as a BLAS MATMUL —
    C3's semantics through the vectorized fast path. C3 folds the dot
    product per pair with F.aggregate (JVM expression tree, one
    multiply-add per codegen step); here each Arrow batch of corpus
    vectors becomes ONE numpy matrix multiply against the broadcast
    query block (batch x dim @ dim x |Q|), and only the per-batch
    top-k survivors per query leave Python — the map-side combine of
    top-k selection, so the shuffle carries |batches| x |Q| x k rows,
    never the pair matrix. This is the shape that matters when |Q| is
    hundreds and dims are thousands: dense linear algebra belongs in
    BLAS, not in per-element expression folds (the one workload class
    where Python-with-Arrow BEATS whole-stage codegen).

    Cross-engine determinism: np.dot's pairwise/SIMD summation differs
    from DuckDB's sequential list_sum in the last ulp, so sims are
    ROUNDED to 6dp and the rank order is (rounded sim DESC, cid) —
    the local batch selection uses the IDENTICAL total order
    (np.lexsort on the rounded keys), so a 6dp tie at the batch's
    k-boundary cannot evict the globally-correct candidate.

    Scale: queries broadcast via closure (k-sized — the C27/quantizer
    class); corpus streams once; per-executor memory is one Arrow
    batch. For |Q| too large to broadcast, the documented ladder is
    C14/C17/C39's candidate generation feeding this same matmul
    verify."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    k = 5

    def batches(it):
        for pdf in it:
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(cm, axis=1, keepdims=True)
            sims = (cm / norms) @ qm.T  # batch x |Q|
            simr = np.round(sims, 6)
            cids = pdf["vec_id"].to_numpy()
            out_q, out_c, out_s = [], [], []
            for j in range(qm.shape[0]):
                order = np.lexsort((cids, -simr[:, j]))[:k]
                out_q.extend([qids[j]] * len(order))
                out_c.extend(cids[order])
                out_s.extend(simr[order, j])
            yield pd.DataFrame(
                {
                    "qid": pd.Series(out_q, dtype="int64"),
                    "cid": pd.Series(out_c, dtype="int64"),
                    "sim_r": pd.Series(out_s, dtype="float64"),
                }
            )

    local = emb.select("vec_id", "embedding").mapInPandas(
        batches, "qid long, cid long, sim_r double"
    )
    return rank_top_k(local, k, "sim_r")


# ---------------------------------------------------------------------------
# C94: Matryoshka truncation recall audit (prefix-dim ANN quality)
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)  # 64 = the fixture's full dimensionality
_MRL_QUERIES = 25
_MRL_K = 5


@query(
    "q_c94_matryoshka_recall",
    oracle=f"""
    WITH pairs AS (
      SELECT d.dim_budget, q.vec_id AS qid, c.vec_id AS cid,
             list_sum(list_transform(
                 list_zip(q.embedding[1:d.dim_budget],
                          c.embedding[1:d.dim_budget]),
                 s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(
                     q.embedding[1:d.dim_budget],
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(
                     c.embedding[1:d.dim_budget],
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS sim
      FROM (SELECT * FROM embeddings WHERE vec_id < {_MRL_QUERIES}) q,
           embeddings c,
           (VALUES (8), (16), (32), (64)) AS d(dim_budget)
    ), ranked AS (
      SELECT dim_budget, qid, cid,
             ROW_NUMBER() OVER (PARTITION BY dim_budget, qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM pairs
    ), top AS (
      SELECT dim_budget, qid, cid FROM ranked WHERE rnk <= {_MRL_K}
    ), hits AS (
      SELECT t.dim_budget, CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM top t
      JOIN (SELECT qid, cid FROM top WHERE dim_budget = 64) full_t
        ON t.qid = full_t.qid AND t.cid = full_t.cid
      GROUP BY t.dim_budget
    )
    SELECT dim_budget, n_matches,
           ROUND(CAST(n_matches AS DOUBLE)
                 / {_MRL_QUERIES * _MRL_K}, 6) AS recall_at_{_MRL_K}
    FROM hits
    ORDER BY dim_budget
    """,
)
def q_c94_matryoshka_recall(spark, sf_dir):
    """C94 (extension): Matryoshka-truncation recall audit (Kusupati
    et al. 2022, "Matryoshka Representation Learning") — before
    committing a cheaper index that stores only a PREFIX of each
    embedding, measure what top-k quality survives: for each dim
    budget, rank the corpus by cosine over the first D dims and
    report recall@k against the full-dim top-k. The report is the
    evidence for choosing the smallest D whose recall clears the
    product bar (the C53 int8 ladder's dimensional sibling — that op
    shrinks bits per dim, this shrinks dims).

    Exactness: prefix slices are identical on both engines (Spark
    slice(e,1,D) == DuckDB e[1:D]); the cosine uses the repo's
    sequential-fold dot that is bit-exact vs list_sum (C3's verified
    fragment); ties rank by cid; recall ratios are integer counts
    over a constant, rounded once.

    Scale: queries broadcast (the C3 contract), the corpus is
    scanned map-side and only (dim_budget, qid, cid, sim) triples
    shuffle to the per-(D, qid) top-k windows. The dims explode
    multiplies the TRIPLE stream, not the corpus scan. At 100 TB
    the full-dim reference comes from the existing ANN ladder
    (C14/C17/C21) instead of brute force, and the prefix dot can
    reuse partial sums across nested budgets (one incremental pass
    per pair) — same report, cheaper inner loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MRL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = widen(emb).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "dim_budget",
            F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])),
        )
    )
    d = F.col("dim_budget")
    sim = cosine_similarity(
        F.slice(F.col("qe"), F.lit(1), d), F.slice(F.col("ce"), F.lit(1), d)
    )
    top = rank_top_k(
        pairs.select("dim_budget", "qid", "cid", sim.alias("sim")),
        _MRL_K,
        by=("dim_budget",),
    ).select("dim_budget", "qid", "cid")
    full_t = top.filter(d == _MRL_DIMS[-1]).select("qid", "cid")
    return (
        top.join(F.broadcast(full_t), ["qid", "cid"])
        .groupBy("dim_budget")
        .agg(F.count("*").alias("n_matches"))
        .select(
            "dim_budget",
            "n_matches",
            F.round(
                F.col("n_matches").cast("double")
                / (_MRL_QUERIES * _MRL_K),
                6,
            ).alias(f"recall_at_{_MRL_K}"),
        )
        .orderBy("dim_budget")
    )


# ---------------------------------------------------------------------------
# C97: SemDeDup — semantic dedup inside deterministic clusters
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.999
_SEMDEDUP_CLONES = 20
_SEMDEDUP_SIGN_BITS = 8


@query(
    "q_c97_semdedup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id < {_SEMDEDUP_CLONES}
    ), b AS (
      SELECT vec_id, embedding,
             CAST((embedding[1] >= 0)::INT * 1
                + (embedding[2] >= 0)::INT * 2
                + (embedding[3] >= 0)::INT * 4
                + (embedding[4] >= 0)::INT * 8
                + (embedding[5] >= 0)::INT * 16
                + (embedding[6] >= 0)::INT * 32
                + (embedding[7] >= 0)::INT * 64
                + (embedding[8] >= 0)::INT * 128 AS BIGINT) AS bucket
      FROM base
    ), pairs AS (
      SELECT x.vec_id AS keeper, y.vec_id AS dropped
      FROM b x JOIN b y
        ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE list_sum(list_transform(list_zip(x.embedding, y.embedding),
                     s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(x.embedding,
                     e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding,
                     e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))))
            >= {_SEMDEDUP_TAU}
    ), dom AS (
      SELECT dropped AS vec_id,
             CAST(MIN(keeper) AS BIGINT) AS dominated_by
      FROM pairs GROUP BY dropped
    )
    SELECT b.vec_id, b.bucket,
           dom.vec_id IS NULL AS keep,
           dom.dominated_by
    FROM b LEFT JOIN dom ON b.vec_id = dom.vec_id
    ORDER BY b.vec_id
    """,
)
def q_c97_semdedup(spark, sf_dir):
    """C97 (extension): SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540) — semantic deduplication that exact (C1) and
    lexical near-dup (C2/C8/C64) dedup cannot see: paraphrases and
    re-encodings collide only in embedding space. The method is
    cluster-then-prune: partition vectors into clusters, and inside
    each cluster drop every vector whose cosine to a higher-priority
    member exceeds tau (priority here = lowest vec_id, the paper's
    "keep one representative"). Output is the per-vector verdict
    (keep / dominated_by) — the same decision-record shape as C90.

    Clustering is a deterministic 8-bit sign signature over the
    first 8 dims, NOT kmeans: sign buckets are SQL-expressible so
    the whole operator is oracle-checked end to end (the paper's
    kmeans step is C30 — since round 11 also hash-oracled via the
    declarative Lloyd, as C127 demonstrates; swap it in at
    deployment and this operator's join/verdict machinery is
    unchanged). Identical vectors share every sign, so clones can
    never escape their source's bucket — the planted positives (20
    exact clones under shifted ids, mirrored in the oracle's UNION)
    prove the drop path end to end rather than reporting a vacuous
    all-keep.

    Scale: pairwise work is bucket-local (the C2 blocking argument);
    bucket count doubles per signature bit, so at 100 TB the bits
    (or kmeans k) grow with the corpus to hold per-bucket population
    flat. The self-join shuffles on the bucket key; cosine is the
    repo's fold-exact Catalyst expression (functions/vector.py), no
    UDF; the verdict join is vec_id-keyed. Cross-pair cosines of
    independent vectors concentrate near 0 at dim=64, so tau=0.999
    fires exactly on the planted semantic duplicates."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.where(
        F.col("vec_id") < _SEMDEDUP_CLONES
    ).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    base = widen(emb).unionByName(planted)
    bucket = sum(
        (F.element_at("embedding", i + 1) >= 0).cast("int") * (2**i)
        for i in range(_SEMDEDUP_SIGN_BITS)
    ).cast("bigint")
    b = base.withColumn("bucket", bucket)
    x = b.select(
        F.col("vec_id").alias("keeper"),
        F.col("embedding").alias("xe"),
        "bucket",
    )
    y = b.select(
        F.col("vec_id").alias("dropped"),
        F.col("embedding").alias("ye"),
        "bucket",
    )
    pairs = x.join(y, "bucket").where(
        (F.col("keeper") < F.col("dropped"))
        & (
            cosine_similarity(F.col("xe"), F.col("ye"))
            >= _SEMDEDUP_TAU
        )
    )
    dom = pairs.groupBy("dropped").agg(
        F.min("keeper").cast("bigint").alias("dominated_by")
    )
    return (
        b.join(dom, b.vec_id == dom.dropped, "left")
        .select(
            "vec_id",
            "bucket",
            F.col("dropped").isNull().alias("keep"),
            "dominated_by",
        )
        .orderBy("vec_id")
    )


# C98 semantic decontamination: the eval benchmark is the QUERY side
# (k-sized, broadcast); a train doc is contaminated when its embedding
# is near ANY eval embedding. tau sits at the measured p90 of the
# max-sim distribution on the fixture (0.30 -> ~10% flagged), so both
# the flag and the no-flag paths carry rows.
_DECONTAM_TAU = 0.30
_DECONTAM_EVAL_MOD = 50


@query(
    "q_c98_semantic_decontam",
    oracle=f"""
    WITH pairs AS (
      SELECT c.vec_id AS cid, q.vec_id AS qid,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      FROM (SELECT * FROM embeddings
            WHERE vec_id % {_DECONTAM_EVAL_MOD} = 0) q,
           (SELECT * FROM embeddings
            WHERE vec_id % {_DECONTAM_EVAL_MOD} <> 0) c
    ),
    best AS (
      SELECT cid, qid, sim,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY sim DESC, qid) AS rnk
      FROM pairs
    )
    SELECT b.cid AS doc_id, d.source,
           b.qid AS nearest_eval_id, b.sim AS eval_sim
    FROM best b JOIN documents d ON d.doc_id = b.cid
    WHERE b.rnk = 1 AND b.sim >= {_DECONTAM_TAU}
    ORDER BY doc_id
    """,
)
def q_c98_semantic_decontam(spark, sf_dir):
    """C98: SEMANTIC decontamination — flag train docs whose embedding
    is too close to any eval-benchmark embedding. The third rung of the
    contamination ladder: C25 catches exact copies, C55 catches 5-gram
    overlaps, and this catches paraphrases/translations that share no
    surface n-grams but embed next to the benchmark (the leakage mode
    n-gram screens structurally miss). Eval set = vec_id % 50 == 0 (the
    held-out-benchmark stand-in); a train doc is contaminated when its
    max cosine against the eval set >= tau; output is the flagged doc
    with its NEAREST eval item (the attribution a removal review needs)
    plus the doc's source from the documents table.

    Unlike C3's per-query top-k window (which shuffles the full
    (train x eval) pair stream to rank within qid), the max here is an
    ARGMAX PER TRAIN DOC folded with ``max_by``-style struct max inside
    a partial-aggregated groupBy: the broadcast crossJoin emits pairs
    map-side and the combiner collapses them to one row per train doc
    before anything shuffles — at 100 TB the exchange carries n_train
    rows, not n_train x k. Tie-break (equal sim) prefers the smaller
    eval id via the negated-id struct field, mirroring the oracle's
    ORDER BY sim DESC, qid. Cosine is the fold-exact Catalyst
    expression (functions/vector.py) so the unrounded double
    hash-matches DuckDB, the C3 contract.

    Scale: eval benchmarks are KB-to-MB-sized (k docs) -> broadcast;
    per-row work is k cosines map-side; one n_train-row exchange for
    the argmax; the documents join is doc_id-keyed. For k large enough
    that k cosines per row hurt, C97's sign-bucket blocking is the
    pre-filter — the verdict machinery here is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    ev = emb.where(F.col("vec_id") % _DECONTAM_EVAL_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    tr = widen(emb).where(F.col("vec_id") % _DECONTAM_EVAL_MOD != 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    pairs = tr.crossJoin(F.broadcast(ev)).select(
        "cid",
        "qid",
        cosine_similarity(F.col("ce"), F.col("qe")).alias("sim"),
    )
    best = pairs.groupBy("cid").agg(
        F.max(F.struct(F.col("sim"), (-F.col("qid")).alias("nq"))).alias(
            "b"
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        best.where(F.col("b.sim") >= _DECONTAM_TAU)
        .select(
            F.col("cid").alias("doc_id"),
            (-F.col("b.nq")).alias("nearest_eval_id"),
            F.col("b.sim").alias("eval_sim"),
        )
        .join(d, "doc_id")
        .select("doc_id", "source", "nearest_eval_id", "eval_sim")
        .orderBy("doc_id")
    )


def _c127_oracle() -> str:
    """q_c127's DuckDB oracle: planted clones -> declarative Lloyd
    (dynamic k = GREATEST(8, ceil(n/65)) via a scalar subquery, 2
    rounds) -> within-cluster fold-cosine edges at tau=0.95 (decision
    margins ~0.05: natural max pair cosine 0.51, planted ~0.9988, so
    numpy-gram-vs-fold float noise cannot flip an edge) -> C18's
    recursive transitive closure for the min-id representative."""
    cos = _cos_sql("a.e", "b.e")
    return f"""
    WITH RECURSIVE raw AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding,
               (x, i) -> CAST(x + CASE WHEN i = 1 THEN 0.05
                                       ELSE 0.0 END AS FLOAT))
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM raw
    ),
    kk AS (SELECT GREATEST(8, (COUNT(*) + 64) // 65) AS k FROM base),
    {_kmeans_cte_sql('(SELECT k FROM kk)', 2, 64)},
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM a1 a JOIN a1 b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {cos} >= 0.95
    ),
    uedges AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION SELECT dst, src FROM pairs
    ),
    reach AS (
      SELECT a, b FROM uedges
      UNION
      SELECT r.a, e.b FROM reach r JOIN uedges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS vec_id, MIN(b) AS min_reach FROM reach GROUP BY a
    )
    SELECT v.vec_id,
           CAST(v.cluster AS INTEGER) AS cluster,
           LEAST(v.vec_id, COALESCE(c.min_reach, v.vec_id)) AS rep_id,
           LEAST(v.vec_id, COALESCE(c.min_reach, v.vec_id)) = v.vec_id
             AS is_kept
    FROM a1 v LEFT JOIN comp c ON v.vec_id = c.vec_id
    ORDER BY v.vec_id
    """


@query("q_c127_semdedup", oracle=_c127_oracle())
def q_c127_semdedup(spark, sf_dir):
    """C127 (extension): SemDeDup — SEMANTIC near-duplicate removal
    over the embedding corpus (Abbas et al. 2023, arXiv:2303.09540):
    paraphrases, translations, and re-renders that share no tokens
    (invisible to C1/C2/C8's lexical machinery) sit at high cosine in
    embedding space. The pipeline: (1) k-means clusters the corpus
    (C30's Lloyd helper — the clustering IS the blocking: pairs are
    only ever scored WITHIN a cluster); (2) within each cluster, the
    cosine >= 0.95 graph's connected components (C18's contraction
    machinery, reused verbatim on embedding edges) define duplicate
    groups; (3) the min-vec_id representative of each component is
    kept, the rest dropped. One row per doc with its verdict.

    The fixture's embeddings are unit-norm with max natural pair
    cosine 0.51 — far under the 0.95 threshold — so semantic clones
    are PLANTED (every 25th vector re-emitted at +1,000,000 with a
    +0.05 bump on dimension 0: cosine ~0.9988 to its source, the
    C111/C113 fabricate-then-audit construction). Invariants
    (tests/test_tier_c.py): verdicts partition the corpus, every
    representative keeps itself, planted clones collapse onto their
    sources, natural docs survive, rerun-deterministic.

    Scale: this is the SemDeDup paper's own scaling argument made
    literal — k = max(8, ceil(n/65)) grows WITH the corpus so the
    expected cluster size stays bounded (~65 vectors -> ~2k-entry
    gram per cluster; 65 keeps the <=520-vector oracle/test fixtures
    at the historical k=8), and the quadratic pair stage runs per
    cluster, never per corpus; the component fold touches only
    edge-connected docs (planted pairs), and the final verdict join
    is corpus x (tiny components table). Cluster assignment is the
    exact-arithmetic Lloyd (round 11 — declarative-fold-contract
    values, which is what makes the whole operator hash-oracled end
    to end; run by :func:`lloyd`, one corpus pass per round).
    Probe-measured at 10x/30x replicas (SCALE.md round 9): the k
    policy is what keeps the gram stage near-linear."""
    from etl_spark_eks_spark.operators.dedup import connected_components

    TAU = 0.95
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    clones = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0))
            ).cast("float"),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(clones)
    # k grows with the corpus (the SemDeDup scaling knob): expected
    # cluster size ~65 bounds each cluster's gram matrix regardless of
    # corpus scale. The count is a one-pass 1-row statistic (the same
    # class as C113's vocabulary gate); at the oracle/test fixtures
    # (n <= 520) the max() floor keeps k = 8, i.e. historical behavior.
    n_corpus = corpus.count()
    k = max(8, -(-n_corpus // 65))
    # iters=2: the clustering is BLOCKING here, not a deliverable — a
    # near-identical pair shares its argmin centroid at every
    # iteration (they move together), so duplicate components are
    # never split by the iteration count; extra rounds only reshuffle
    # which cell scores the far-apart (sub-threshold) pairs. (C30
    # keeps 3 iterations because there the assignment itself is the
    # output.)
    assigned = kmeans_lloyd(corpus, k=k, iters=2)
    vecs = corpus.join(assigned, "vec_id").persist()

    # Per-cluster pair scoring as ONE numpy gram matrix per cluster
    # (applyInPandas): the array-expression cosine runs interpreted
    # (higher-order functions have no codegen) and cost 8.8 s on the
    # fixture's 3.4M within-cluster pairs; the matmul form is the
    # SemDeDup paper's own kernel and is batch-bounded by the cluster
    # size the k policy already controls.
    def cluster_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m / norms[:, None]) @ (m / norms[:, None]).T
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = sims[iu, ju] >= TAU
        lo = np.minimum(ids[iu[hit]], ids[ju[hit]])
        hi = np.maximum(ids[iu[hit]], ids[ju[hit]])
        return pd.DataFrame({"src": lo, "dst": hi})

    # localCheckpoint: connected_components is an iterative consumer —
    # uncached, every contraction round would recompute the whole
    # kmeans+pair subtree (measured 9.6 s CC on 79 edges before the
    # pin; ~1 s after).
    edges = (
        vecs.groupBy("cluster")
        .applyInPandas(cluster_edges, "src long, dst long")
        .localCheckpoint(eager=True)
    )
    comps = connected_components(edges, "src", "dst")
    out = (
        vecs.join(
            comps.withColumnRenamed("node", "vec_id").withColumnRenamed(
                "label", "rep"
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cluster",
            F.coalesce("rep", "vec_id").cast("long").alias("rep_id"),
        )
        .withColumn("is_kept", F.col("rep_id") == F.col("vec_id"))
        .orderBy("vec_id")
    )
    result = out.localCheckpoint(eager=True)
    vecs.unpersist()
    return result


# ---------------------------------------------------------------------------
# C134: PQ-codebook refinement round (one Lloyd iteration per subspace)
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (dim 64 -> 8 dims each)
_PQ_SUB = 8
_PQ_CODES = 16  # centroids per subspace


@query(
    "q_c134_pq_codebook_refine",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(r.i AS BIGINT) AS subspace,
             embedding[r.i * 8 + 1 : r.i * 8 + 8] AS sv
      FROM embeddings, UNNEST(range(0, 8)) AS r(i)
    ), cb AS (
      SELECT vec_id AS code, subspace, sv AS cv
      FROM sub WHERE vec_id < 16
    ), d AS (
      SELECT s.vec_id, s.subspace, c.code, s.sv,
             list_sum(list_transform(range(1, 9),
               j -> (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))
                  * (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))))
               AS d2
      FROM sub s JOIN cb c ON c.subspace = s.subspace
    ), asg AS (
      SELECT vec_id, subspace, code, sv FROM (
        SELECT vec_id, subspace, code, sv,
               ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d2, code) AS rn
        FROM d)
      WHERE rn = 1
    ), dims AS (
      SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(sv[r.j] AS DOUBLE) AS DECIMAL(38,6)))
                  AS DOUBLE) AS s
      FROM asg, UNNEST(range(1, 9)) AS r(j)
      GROUP BY subspace, code, r.j
    ), old AS (
      SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
             CAST(cv[r.j] AS DOUBLE) AS old_c
      FROM cb, UNNEST(range(1, 9)) AS r(j)
    )
    SELECT o.subspace, o.code, o.dim,
           o.old_c AS old_centroid,
           COALESCE(d.s / d.n, o.old_c) AS new_centroid,
           COALESCE(d.n, 0) AS n_assigned
    FROM old o LEFT JOIN dims d
      ON d.subspace = o.subspace AND d.code = o.code AND d.dim = o.dim
    ORDER BY o.subspace, o.code, o.dim
    """,
)
def q_c134_pq_codebook_refine(spark, sf_dir):
    """C134 (extension): PQ-CODEBOOK REFINEMENT — one Lloyd iteration
    over each sub-space, upgrading C21's init-only codebooks (first-k
    corpus samples, a deliberate deterministic seed) toward the
    k-means fit real PQ training runs: per sub-space, every vector's
    sub-vector assigns to its nearest centroid (squared L2, ties to
    the smaller code id) and each (sub-space, code) cell re-centers on
    the mean of its members; empty cells keep their old centroid (the
    oracle's LEFT JOIN path; every lloyd caller has the same policy).
    Output: the refined codebook AS DATA, one row per (subspace,
    code, dim) with old/new centroid and the cell's population —
    joinable back into C21 the way C118's parameter table feeds C8.

    The first hash-oracled Lloyd round in the repo (round 11 then
    carried its recipe onto C30/C44/C127 and the ANN cohort, so the
    whole ladder is oracle-checked): one :func:`lloyd` round grouped by
    subspace, the re-centering sums accumulating in DECIMAL(38,6)
    (functions/exact.py dsum: exact + associative, so Spark's partial
    tree and DuckDB's sequential fold agree bit-for-bit; means are
    therefore means of 6dp-quantized components — the documented price
    of a deterministic cross-engine oracle, ~5e-7 per component).
    Output centroids ship UNROUNDED: every double here is bit-identical
    across engines by construction (exact decimal sum -> double,
    divided by an exact integer), and a 6dp edge round would CREATE
    the only possible divergence — the 6dp-decimal numerator puts
    s/n exactly on the rounding-tie grid, where Spark's
    shortest-repr HALF_UP and DuckDB's double rounding split
    (measured: 2 of 1,024 cells at sf0.01, 0.0096225 -> .009622
    vs .009623). d2 is a fixed-order left fold on both
    engines (the _COSINE_PAIRS_SQL precedent), so argmin ties cannot
    straddle engines. Codebook rows are vec_id < 16 — identical
    filter on both sides, no orderBy/limit nondeterminism.

    Scale: one Arrow-batched assignment pass + one aggregate over the
    (subspace, code, dim) key space of m*k*sub = 1,024 rows whatever
    the corpus size, then a member count per cell. Iterating to
    convergence is C142 (the same driver with a gate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = _pq_seed(emb)
    assigned, new, _ = lloyd(
        _pq_subspaces(emb), old, vcol="sv", max_rounds=1, group="subspace"
    )
    n = {
        (r["subspace"], r["code"]): r["count"]
        for r in assigned.groupBy("subspace", "code").count().collect()
    }
    return values_df(
        spark,
        [
            (s, c, j + 1, o, new[(s, c)][j], n.get((s, c), 0))
            for (s, c), cv in sorted(old.items())
            for j, o in enumerate(cv)
        ],
        "subspace bigint, code bigint, dim bigint, old_centroid double,"
        " new_centroid double, n_assigned bigint",
    )


# ---------------------------------------------------------------------------
# C137: PQ distortion trajectory (two unrolled Lloyd rounds)
# ---------------------------------------------------------------------------


def _pq_subspaces(df):
    """(vec_id, subspace, sv) — every vector split into the 8 PQ
    sub-vectors (C134's explode, shared)."""
    return df.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda i: F.slice("embedding", i * _PQ_SUB + 1, _PQ_SUB),
            )
        ).alias("subspace_i", "sv"),
    ).select(
        "vec_id", F.col("subspace_i").cast("long").alias("subspace"), "sv"
    )


def _pq_d2(a: Column, b: Column) -> Column:
    """Squared L2 between two sub-vectors as the fixed-order left fold
    both engines reproduce bit-for-bit (C134's expression)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_assign(sub, cb):
    """Nearest-centroid assignment (squared L2, ties to smaller code)
    carrying the winning distance: (vec_id, subspace, code, sv, d2)."""
    d2 = _pq_d2(F.col("sv"), F.col("cv"))
    return (
        sub.join(F.broadcast(cb), "subspace")
        .select("vec_id", "subspace", "code", "sv", d2.alias("d2"))
        .groupBy("vec_id", "subspace")
        .agg(
            F.min_by(
                F.struct("code", "sv"), F.struct("d2", "code")
            ).alias("b"),
            F.min(F.struct("d2", "code")).alias("w"),
        )
        .select(
            "vec_id",
            "subspace",
            F.col("b.code").alias("code"),
            F.col("b.sv").alias("sv"),
            F.col("w.d2").alias("d2"),
        )
    )


def _pq_seed(emb: DataFrame) -> dict:
    """{(subspace, code): sub-vector}: every subspace's codebook seeded
    with the sub-vectors of the vec_ids below ``_PQ_CODES`` (code =
    vec_id), the seed every PQ oracle pins."""
    rows = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select("vec_id", "embedding")
        .collect()
    )
    return {
        (s, r["vec_id"]): [
            float(x) for x in r["embedding"][s * _PQ_SUB : (s + 1) * _PQ_SUB]
        ]
        for r in rows
        for s in range(_PQ_M)
    }


def _pq_recenter(asg, cb_prev):
    """One Lloyd re-centering: per (subspace, code) the member mean in
    DECIMAL(38,6) (C134's exact-sum discipline), empty cells keeping
    the previous centroid; centroids come back as double arrays."""
    means = (
        asg.select(
            "subspace", "code", F.posexplode("sv").alias("j", "v")
        )
        .select(
            "subspace",
            "code",
            (F.col("j") + 1).cast("long").alias("dim"),
            F.col("v").cast("double").alias("v"),
        )
        .groupBy("subspace", "code", "dim")
        .agg(F.count("*").cast("long").alias("n"), dsum("v").alias("s"))
    )
    old = cb_prev.select(
        "subspace", "code", F.posexplode("cv").alias("j", "cvv")
    ).select(
        "subspace",
        "code",
        (F.col("j") + 1).cast("long").alias("dim"),
        F.col("cvv").cast("double").alias("old_c"),
    )
    return (
        old.join(means, ["subspace", "code", "dim"], "left")
        .select(
            "subspace",
            "code",
            "dim",
            F.coalesce(F.col("s") / F.col("n"), F.col("old_c")).alias("c"),
        )
        .groupBy("subspace", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda x: x["c"],
            ).alias("cv")
        )
    )


@query(
    "q_c137_pq_distortion_trajectory",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(r.i AS BIGINT) AS subspace,
             embedding[r.i * 8 + 1 : r.i * 8 + 8] AS sv
      FROM embeddings, UNNEST(range(0, 8)) AS r(i)
    ), cb0 AS (
      SELECT vec_id AS code, subspace, sv AS cv
      FROM sub WHERE vec_id < 16
    ), a0 AS (
      SELECT vec_id, subspace, code, sv, d2 FROM (
        SELECT s.vec_id, s.subspace, c.code, s.sv,
               list_sum(list_transform(range(1, 9),
                 j -> (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))
                    * (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))))
                 AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY list_sum(list_transform(range(1, 9),
                   j -> (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))
                      * (CAST(s.sv[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE)))),
                 c.code) AS rn
        FROM sub s JOIN cb0 c ON c.subspace = s.subspace)
      WHERE rn = 1
    ), m1 AS (
      SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(sv[r.j] AS DOUBLE) AS DECIMAL(38,6)))
                  AS DOUBLE) AS s
      FROM a0, UNNEST(range(1, 9)) AS r(j)
      GROUP BY subspace, code, r.j
    ), cb1 AS (
      SELECT subspace, code, list(c ORDER BY dim) AS cv FROM (
        SELECT o.subspace, o.code, o.dim,
               COALESCE(m.s / m.n, o.old_c) AS c
        FROM (SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
                     CAST(cv[r.j] AS DOUBLE) AS old_c
              FROM cb0, UNNEST(range(1, 9)) AS r(j)) o
        LEFT JOIN m1 m ON m.subspace = o.subspace AND m.code = o.code
                      AND m.dim = o.dim)
      GROUP BY subspace, code
    ), a1 AS (
      SELECT vec_id, subspace, code, sv, d2 FROM (
        SELECT s.vec_id, s.subspace, c.code, s.sv,
               list_sum(list_transform(range(1, 9),
                 j -> (CAST(s.sv[j] AS DOUBLE) - c.cv[j])
                    * (CAST(s.sv[j] AS DOUBLE) - c.cv[j]))) AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY list_sum(list_transform(range(1, 9),
                   j -> (CAST(s.sv[j] AS DOUBLE) - c.cv[j])
                      * (CAST(s.sv[j] AS DOUBLE) - c.cv[j]))),
                 c.code) AS rn
        FROM sub s JOIN cb1 c ON c.subspace = s.subspace)
      WHERE rn = 1
    ), m2 AS (
      SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(sv[r.j] AS DOUBLE) AS DECIMAL(38,6)))
                  AS DOUBLE) AS s
      FROM a1, UNNEST(range(1, 9)) AS r(j)
      GROUP BY subspace, code, r.j
    ), cb2 AS (
      SELECT subspace, code, list(c ORDER BY dim) AS cv FROM (
        SELECT o.subspace, o.code, o.dim,
               COALESCE(m.s / m.n, o.old_c) AS c
        FROM (SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
                     cv[r.j] AS old_c
              FROM cb1, UNNEST(range(1, 9)) AS r(j)) o
        LEFT JOIN m2 m ON m.subspace = o.subspace AND m.code = o.code
                      AND m.dim = o.dim)
      GROUP BY subspace, code
    ), a2 AS (
      SELECT vec_id, subspace, code, sv, d2 FROM (
        SELECT s.vec_id, s.subspace, c.code, s.sv,
               list_sum(list_transform(range(1, 9),
                 j -> (CAST(s.sv[j] AS DOUBLE) - c.cv[j])
                    * (CAST(s.sv[j] AS DOUBLE) - c.cv[j]))) AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY list_sum(list_transform(range(1, 9),
                   j -> (CAST(s.sv[j] AS DOUBLE) - c.cv[j])
                      * (CAST(s.sv[j] AS DOUBLE) - c.cv[j]))),
                 c.code) AS rn
        FROM sub s JOIN cb2 c ON c.subspace = s.subspace)
      WHERE rn = 1
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS round,
             CAST(0 AS BIGINT) AS n_moved,
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a0) AS distortion,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT subspace, code FROM a0)) AS n_nonempty
      UNION ALL
      SELECT CAST(1 AS BIGINT),
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM a1 JOIN a0 USING (vec_id, subspace)
              WHERE a1.code <> a0.code),
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a1),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT subspace, code FROM a1))
      UNION ALL
      SELECT CAST(2 AS BIGINT),
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM a2 JOIN a1 USING (vec_id, subspace)
              WHERE a2.code <> a1.code),
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a2),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT subspace, code FROM a2))
    ) ORDER BY round
    """,
)
def q_c137_pq_distortion_trajectory(spark, sf_dir):
    """C137 (extension): the PQ TRAINING TRAJECTORY — C134 run for
    three assignment rounds (two re-centerings), with the three numbers
    a quantizer-training run is judged by read off per round: total
    distortion (sum of winning squared distances), assignments moved
    vs the previous round, and occupied cells. Lloyd guarantees
    distortion is non-increasing and n_moved -> 0 at convergence; the
    trajectory says whether the C21 codebooks are one round or many
    from converged — asserted monotone in tests.

    Numerics: C134's discipline end to end — d2 is the fixed-order
    fold, re-centering sums and the distortion totals accumulate in
    DECIMAL(38,6) (exact + associative), every derived double is
    bit-identical across engines, outputs ship UNROUNDED (the C134
    tie-grid lesson). Round-1+ centroids are doubles on BOTH sides,
    so the float->double cast applies only to the corpus sub-vectors.

    Scale: three :func:`lloyd` rounds grouped by subspace, no gate —
    per round one Arrow-batched assignment pass and one aggregate
    that yields the trace numbers and the next codebook together.
    C142 is the same driver with a convergence gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, _, trace = lloyd(
        _pq_subspaces(emb),
        _pq_seed(emb),
        vcol="sv",
        max_rounds=3,
        group="subspace",
    )
    return values_df(
        spark,
        [(t.round, t.n_moved, t.distortion, t.n_nonempty) for t in trace],
        "round bigint, n_moved bigint, distortion double, n_nonempty bigint",
    )


# ---------------------------------------------------------------------------
# C140: convergence-gated Lloyd driver (C137 generalized past its unroll)
# ---------------------------------------------------------------------------

_C140_K = 8
_C140_EPS = 0.01  # stop when relative distortion improvement drops below 1%
_C140_MAX_ROUNDS = 4  # hard cap; the fixture gate fires at round 2 everywhere


def _c140_oracle() -> str:
    """q_c140's DuckDB oracle: the unrolled declarative Lloyd
    (q_c30's CTE generator, now carrying the winning d2), with the
    trajectory assembled exactly as the driver computes it — exact
    DECIMAL distortion sums, LAG-based relative improvement on the
    identical doubles — and rows emitted up to and including the first
    gated round (or the hard cap)."""
    rounds = _C140_MAX_ROUNDS + 1
    traj = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({r} AS BIGINT) AS round,
             {'CAST(0 AS BIGINT)' if r == 0 else
              f'(SELECT CAST(COUNT(*) AS BIGINT) FROM a{r} JOIN a{r-1}'
              f' USING (vec_id) WHERE a{r}.cluster <> a{r-1}.cluster)'}
               AS n_moved,
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a{r}) AS distortion"""
        for r in range(rounds)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    {_kmeans_cte_sql(str(_C140_K), rounds, 64)},
    traj AS (
{traj}
    ),
    t2 AS (
      SELECT round, n_moved, distortion,
             (LAG(distortion) OVER (ORDER BY round) - distortion)
               / LAG(distortion) OVER (ORDER BY round) AS rel_improvement
      FROM traj
    )
    SELECT round, n_moved, distortion, rel_improvement,
           COALESCE(rel_improvement < {_C140_EPS}, FALSE) AS converged
    FROM t2
    WHERE round <= COALESCE(
      (SELECT MIN(round) FROM t2
       WHERE round >= 1 AND rel_improvement < {_C140_EPS}),
      {_C140_MAX_ROUNDS})
    ORDER BY round
    """


@query("q_c140_lloyd_convergence_gate", oracle=_c140_oracle())
def q_c140_lloyd_convergence_gate(spark, sf_dir):
    """C140 (extension, round 11): CONVERGENCE-GATED Lloyd driver —
    the generalization C137's docstring promises ("production iterates
    the same stage in the C30 driver loop with a convergence
    predicate"): a driver loop over the declarative Lloyd round
    (q_c30's exact-arithmetic assign + DECIMAL re-center) that stops
    itself when a round's relative distortion improvement falls below
    1% — the diminishing-returns gate a production quantizer/cluster
    training run actually uses (an exact n_moved==0 fixpoint takes
    12-30 rounds on this fixture for single-digit-percent distortion
    gains; the measured trajectory is ~42% improvement at round 1,
    <0.8% at round 2, where the gate fires at every SF). Output is
    one row per EXECUTED round — (round, n_moved, distortion,
    rel_improvement, converged) — so the table is itself the evidence
    the gate worked: the last row is the first converged one (or the
    hard cap _C140_MAX_ROUNDS, whichever comes first).

    Oracle: the loop is data-dependent, but its TRACE is still
    SQL-expressible because the gate bound is static — the oracle
    unrolls to the hard cap and filters rounds past the first gated
    one; distortion sums are exact DECIMAL(38,6) folds and the
    improvement ratios divide the identical doubles, so every emitted
    row hash-matches.

    Scale: :func:`lloyd` with ``eps`` — per round one Arrow-batched
    assignment pass (no shuffle, centroids a k x dim closure) and one
    aggregate that yields the trace numbers and the next centroids
    together; driver state is k x dim doubles (the C30 argument)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, _, trace = lloyd(
        emb.select("vec_id", "embedding"),
        _seed_book(emb, _C140_K),
        vcol="embedding",
        max_rounds=_C140_MAX_ROUNDS + 1,
        eps=_C140_EPS,
    )
    return values_df(
        spark,
        [
            (t.round, t.n_moved, t.distortion, t.rel_improvement, t.converged)
            for t in trace
        ],
        "round bigint, n_moved bigint, distortion double,"
        " rel_improvement double, converged boolean",
    )


# ---------------------------------------------------------------------------
# C142: convergence-gated PQ subspace trainer (C140's gate over C134's stage)
# ---------------------------------------------------------------------------

_C142_EPS = 0.02  # PQ improvements decay slower than full-vector Lloyd's
_C142_MAX_ROUNDS = 6  # gate measured firing at rounds 3-5 across SFs


def _pq_cte_sql(rounds: int) -> str:
    """C137's subspace-Lloyd CTE chain generalized to N unrolled rounds
    (cb0 = the 16 smallest vec_ids' sub-vectors; a{r} carries the
    winning d2; DECIMAL re-centering) — the C142 oracle's engine."""

    def d2(sv: str, cv: str, cast_cv: bool) -> str:
        c = f"CAST({cv}[j] AS DOUBLE)" if cast_cv else f"{cv}[j]"
        return (
            f"list_sum(list_transform(range(1, 9),"
            f" j -> (CAST({sv}[j] AS DOUBLE) - {c})"
            f" * (CAST({sv}[j] AS DOUBLE) - {c})))"
        )

    parts = [
        """sub AS (
      SELECT vec_id, CAST(r.i AS BIGINT) AS subspace,
             embedding[r.i * 8 + 1 : r.i * 8 + 8] AS sv
      FROM embeddings, UNNEST(range(0, 8)) AS r(i)
    )""",
        """cb0 AS (
      SELECT vec_id AS code, subspace, sv AS cv
      FROM sub WHERE vec_id < 16
    )""",
    ]
    for r in range(rounds):
        cast_cv = r == 0
        expr = d2("s.sv", "c.cv", cast_cv)
        parts.append(
            f"""a{r} AS (
      SELECT vec_id, subspace, code, sv, d2 FROM (
        SELECT s.vec_id, s.subspace, c.code, s.sv, {expr} AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY {expr}, c.code) AS rn
        FROM sub s JOIN cb{r} c ON c.subspace = s.subspace)
      WHERE rn = 1
    )"""
        )
        old_c = (
            "CAST(cv[r.j] AS DOUBLE)" if cast_cv else "cv[r.j]"
        )
        parts.append(
            f"""m{r + 1} AS (
      SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(sv[r.j] AS DOUBLE) AS DECIMAL(38,6)))
                  AS DOUBLE) AS s
      FROM a{r}, UNNEST(range(1, 9)) AS r(j)
      GROUP BY subspace, code, r.j
    )"""
        )
        parts.append(
            f"""cb{r + 1} AS (
      SELECT subspace, code, list(c ORDER BY dim) AS cv FROM (
        SELECT o.subspace, o.code, o.dim, COALESCE(m.s / m.n, o.old_c) AS c
        FROM (SELECT subspace, code, CAST(r.j AS BIGINT) AS dim,
                     {old_c} AS old_c
              FROM cb{r}, UNNEST(range(1, 9)) AS r(j)) o
        LEFT JOIN m{r + 1} m ON m.subspace = o.subspace
                            AND m.code = o.code AND m.dim = o.dim)
      GROUP BY subspace, code
    )"""
        )
    return ",\n    ".join(parts)


def _c142_oracle() -> str:
    """C142's oracle: the unrolled subspace-Lloyd chain with the C140
    trace trick — trajectory rows assembled from exact DECIMAL
    distortion sums, LAG-based relative improvement, emission filtered
    past the first gated round (or the static hard cap)."""
    rounds = _C142_MAX_ROUNDS + 1
    traj = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({r} AS BIGINT) AS round,
             {'CAST(0 AS BIGINT)' if r == 0 else
              f'(SELECT CAST(COUNT(*) AS BIGINT) FROM a{r} JOIN a{r-1}'
              f' USING (vec_id, subspace)'
              f' WHERE a{r}.code <> a{r-1}.code)'}
               AS n_moved,
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a{r}) AS distortion"""
        for r in range(rounds)
    )
    return f"""
    WITH {_pq_cte_sql(rounds)},
    traj AS (
{traj}
    ),
    t2 AS (
      SELECT round, n_moved, distortion,
             (LAG(distortion) OVER (ORDER BY round) - distortion)
               / LAG(distortion) OVER (ORDER BY round) AS rel_improvement
      FROM traj
    )
    SELECT round, n_moved, distortion, rel_improvement,
           COALESCE(rel_improvement < {_C142_EPS}, FALSE) AS converged
    FROM t2
    WHERE round <= COALESCE(
      (SELECT MIN(round) FROM t2
       WHERE round >= 1 AND rel_improvement < {_C142_EPS}),
      {_C142_MAX_ROUNDS})
    ORDER BY round
    """


@query("q_c142_pq_convergence_gate", oracle=_c142_oracle())
def q_c142_pq_convergence_gate(spark, sf_dir):
    """C142 (extension, round 11): convergence-gated PQ SUBSPACE
    trainer — C140's diminishing-returns gate driving C134's
    per-subspace Lloyd stage (the combination both docstrings queue):
    the driver loop re-assigns all 8 sub-spaces against their
    codebooks, re-centers with exact DECIMAL means, and stops when the
    TOTAL distortion's relative improvement drops below 2% (PQ
    improvements decay slower than full-vector Lloyd's — measured
    0.21 -> 0.05 -> 0.02 -> 0.014 across rounds, gate firing at
    rounds 3-5 depending on SF) or at the hard cap. One row per
    executed round: (round, n_moved, distortion, rel_improvement,
    converged) — the quantizer-training log a C21 deployment records.

    Oracle: C140's trace trick over C137's subspace CTE chain — the
    loop is data-dependent but the bound is static, so the oracle
    unrolls to the cap and filters past the first gated round; every
    emitted double is an exact DECIMAL fold or a division of identical
    doubles.

    Scale: :func:`lloyd` grouped by subspace, with ``eps`` — per round
    ONE Arrow-batched assignment pass (bit-identical to the declarative
    fold, so the oracle is unchanged; it replaced the
    16-interpreted-folds-per-row plan that made this the repo's
    steepest 30x slope, 0.40, see SCALE.md) and one aggregate over the
    1,024 (subspace, code, dim) keys that yields the trace totals and
    the next codebook together; the codebook is divided out on the
    driver and never exists as a distributed table between rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, _, trace = lloyd(
        _pq_subspaces(emb),
        _pq_seed(emb),
        vcol="sv",
        max_rounds=_C142_MAX_ROUNDS + 1,
        eps=_C142_EPS,
        group="subspace",
    )
    return values_df(
        spark,
        [
            (t.round, t.n_moved, t.distortion, t.rel_improvement, t.converged)
            for t in trace
        ],
        "round bigint, n_moved bigint, distortion double,"
        " rel_improvement double, converged boolean",
    )


# ---------------------------------------------------------------------------
# C145: convergence-gated IVF coarse-quantizer trainer (C142's gate for
# C17's cells, with the occupancy stats an IVF layout is judged by)
# ---------------------------------------------------------------------------

_C145_K = 16  # C17's quantizer size (the 16-cell coarse codebook)
_C145_EPS = 0.01  # same diminishing-returns bound as the C140 gate
_C145_MAX_ROUNDS = 4  # hard cap; gate measured firing at rounds 2-3
# across sf0.001/0.01/0.1 (rel trajectories ~0.40 -> 0.005-0.010 —
# closest gate decision 0.01012 vs the 0.01 bound at sf0.01, a 1.2e-4
# absolute margin over doubles that are bit-identical on both engines)


def _c145_oracle() -> str:
    """q_c145's oracle: the unrolled declarative Lloyd chain at C17's
    k=16 (the same _kmeans_cte_sql engine as q_c140), with two
    occupancy columns per round — occupied cells and the largest
    cell's member count — read straight off each assignment CTE as
    exact integer aggregates."""
    rounds = _C145_MAX_ROUNDS + 1
    traj = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({r} AS BIGINT) AS round,
             {'CAST(0 AS BIGINT)' if r == 0 else
              f'(SELECT CAST(COUNT(*) AS BIGINT) FROM a{r} JOIN a{r-1}'
              f' USING (vec_id) WHERE a{r}.cluster <> a{r-1}.cluster)'}
               AS n_moved,
             (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
              FROM a{r}) AS distortion,
             (SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) FROM a{r})
               AS n_nonempty,
             (SELECT CAST(MAX(c) AS BIGINT) FROM
               (SELECT COUNT(*) AS c FROM a{r} GROUP BY cluster))
               AS max_cell_n"""
        for r in range(rounds)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    {_kmeans_cte_sql(str(_C145_K), rounds, 64)},
    traj AS (
{traj}
    ),
    t2 AS (
      SELECT round, n_moved, distortion, n_nonempty, max_cell_n,
             (LAG(distortion) OVER (ORDER BY round) - distortion)
               / LAG(distortion) OVER (ORDER BY round) AS rel_improvement
      FROM traj
    )
    SELECT round, n_moved, distortion, rel_improvement,
           n_nonempty, max_cell_n,
           COALESCE(rel_improvement < {_C145_EPS}, FALSE) AS converged
    FROM t2
    WHERE round <= COALESCE(
      (SELECT MIN(round) FROM t2
       WHERE round >= 1 AND rel_improvement < {_C145_EPS}),
      {_C145_MAX_ROUNDS})
    ORDER BY round
    """


@query("q_c145_ivf_quantizer_gate", oracle=_c145_oracle())
def q_c145_ivf_quantizer_gate(spark, sf_dir):
    """C145 (extension, round 12): convergence-gated IVF COARSE-
    QUANTIZER trainer — the C142-style gate applied to C17's cells
    (the survey's queued combination): a driver loop over the
    declarative exact-arithmetic Lloyd round at k=16 (C17's quantizer
    size, seeded with the same 16-smallest-vec_ids policy its oracle
    pins) that stops when a round's relative distortion improvement
    falls below 1% or at the hard cap. Each executed round's row
    carries, beyond C140's trace (n_moved, distortion,
    rel_improvement, converged), the two OCCUPANCY numbers an IVF
    deployment actually reviews before freezing a quantizer:
    ``n_nonempty`` (occupied cells — empty cells waste probe budget)
    and ``max_cell_n`` (the largest cell's member count — the hot
    cell that bounds worst-case probe fan-in and, at cluster scale,
    the skew of the cell-keyed partition layout C17's docstring
    designates as the partition key). Both are exact BIGINTs read off
    the assignment table, so the trace stays hash-oracle-able.

    Oracle: C140's trace trick over _kmeans_cte_sql at k=16 —
    unrolled to the static cap, trajectory filtered past the first
    gated round; distortion is the exact DECIMAL(38,6) fold, the
    occupancy columns are integer aggregates, and rel_improvement
    divides identical doubles (no rounding before the gate compare).

    Scale: :func:`lloyd` at k=16 with ``eps`` — per round one
    Arrow-batched assignment pass over the corpus (no shuffle, 16 x dim
    centroid closure) and one aggregate whose pos-0 rows carry each
    cell's member count and DECIMAL distortion partial: the trace's
    distortion re-adds those 16 partials exactly (decimal addition is
    associative, so it equals the oracle's flat fold bit-for-bit) and
    the occupancy numbers are read from the same rows. Driver state is
    k x dim doubles (the C30 argument)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, _, trace = lloyd(
        emb.select("vec_id", "embedding"),
        _seed_book(emb, _C145_K),
        vcol="embedding",
        max_rounds=_C145_MAX_ROUNDS + 1,
        eps=_C145_EPS,
    )
    return values_df(
        spark,
        trace,
        "round bigint, n_moved bigint, distortion double,"
        " rel_improvement double, n_nonempty bigint, max_cell_n bigint,"
        " converged boolean",
    )


# ---------------------------------------------------------------------------
# C148: IVF probe-policy planner (C118's design-table pattern applied to
# C17's cells — probe budget vs scan cost/skew as data)
# ---------------------------------------------------------------------------


_C148_ORACLE = f"""
WITH quant AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
cdots AS (
  SELECT e.vec_id, q.cell, {{dot}} AS d
  FROM embeddings e, quant q
),
ranked AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS p
  FROM cdots
),
occ AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n
  FROM ranked WHERE p = 1 GROUP BY cell
),
occ_full AS (
  SELECT CAST(r.i AS INTEGER) AS cell, COALESCE(o.cell_n, 0) AS cell_n
  FROM range(0, 16) r(i) LEFT JOIN occ o ON o.cell = r.i
),
cum AS (
  SELECT r.vec_id, r.p,
         SUM(f.cell_n) OVER (PARTITION BY r.vec_id ORDER BY r.p) AS cscan
  FROM ranked r JOIN occ_full f ON f.cell = r.cell
),
per_p AS (
  SELECT p, CAST(SUM(cscan) AS BIGINT) AS scan_total,
         CAST(COUNT(*) AS BIGINT) AS n_queries
  FROM cum GROUP BY p
),
worst AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cell_n DESC, cell) AS p,
         CAST(SUM(cell_n) OVER (ORDER BY cell_n DESC, cell) AS BIGINT)
           AS worst_scan
  FROM occ_full
)
SELECT CAST(per_p.p AS INTEGER) AS n_probes, w.worst_scan,
       per_p.scan_total, per_p.n_queries,
       CAST(per_p.scan_total AS DOUBLE) / per_p.n_queries AS mean_scan,
       CAST(per_p.p * per_p.n_queries AS DOUBLE) / 16 AS balanced_scan,
       CAST(w.worst_scan * 16 AS DOUBLE) / (per_p.p * per_p.n_queries)
         AS worst_skew
FROM per_p JOIN worst w ON w.p = per_p.p
ORDER BY n_probes
""".format(dot=_dot_sql("e.embedding", "q.cemb"))


@query("q_c148_ivf_probe_policy_plan", oracle=_C148_ORACLE)
def q_c148_ivf_probe_policy_plan(spark, sf_dir):
    """C148 (extension, round 12): IVF PROBE-POLICY planner — C118's
    design-table pattern (tuning knobs as queryable data, not
    hard-coded constants) applied to C17's cells, per the round-12
    survey queue: for every probe budget p = 1..16 against the frozen
    C17 quantizer (the 16 smallest vec_ids, its exact assignment
    semantics — fold-dot argmax, ties to the smaller cell), one row
    with the numbers an ANN deployment trades off when picking
    nprobe: ``mean_scan`` (average candidates scanned per query — the
    throughput cost; every corpus vector plays the query role, the
    C103-sampling analogue of a query log), ``worst_scan`` (sum of
    the p LARGEST cells — the adversarial query that lands in the
    hottest cells, the tail-latency bound), ``balanced_scan``
    (p*n/16, what a perfectly balanced quantizer would scan) and
    ``worst_skew`` (worst/balanced — C145's max_cell_n skew signal
    propagated to the per-budget decision). C17 runs nprobe=2; this
    table is the evidence for or against that choice at each corpus
    snapshot, and re-derives after each C145 retrain.

    Numerics: every scan count is an exact BIGINT (cell occupancies
    and their window sums); the three doubles divide identical exact
    integers on both engines. The full 16-deep per-vector cell
    ranking is safe to mirror: minimum adjacent fold-dot gap measured
    1.46e-7 across all fixture SFs (vs ~1e-13 BLAS-vs-fold noise;
    floor pinned in test_ann_oracle_decision_margins), so numpy
    argsort and the oracle's ROW_NUMBER agree at every rank.

    Shape: ONE pass of :func:`ip_ranker` (the inner-product ranker
    behind C17's cell and probe choice, here with n = 16) computes
    each vector's full cell ranking (n x 16 rows, reused for every p
    at once instead of 16 separate probe simulations); occupancy is
    the rank-1 slice re-aggregated, the per-vector cumulative window
    runs over 16 rows per vector, and everything after is 16-row. The
    worst-case curve's global window runs over the 16-row occupancy
    table (lint-allowlisted single-partition, by construction tiny). At
    cluster scale the ranking pass is the map-side of the existing
    cell-assignment write; the planner table is a free by-product."""
    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.orderBy("vec_id").limit(16).select("embedding").collect()
    )
    cell_ranking = ip_ranker([r["embedding"] for r in sample], 16)
    ranked = (
        widen(emb)
        .select(
            "vec_id", F.posexplode(cell_ranking("embedding")).alias(
                "pos", "cell"
            )
        )
        .select(
            "vec_id", (F.col("pos") + 1).cast("int").alias("p"), "cell"
        )
        .localCheckpoint(eager=True)  # two consumers: occupancy + cum
    )
    occ = (
        ranked.where(F.col("p") == 1)
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("cell_n"))
    )
    occ_full = F.broadcast(
        spark.range(16)
        .select(F.col("id").cast("int").alias("cell"))
        .join(occ, "cell", "left")
        .select("cell", F.coalesce("cell_n", F.lit(0)).alias("cell_n"))
    )
    wv = (
        Window.partitionBy("vec_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranked.join(occ_full, "cell").withColumn(
        "cscan", F.sum("cell_n").over(wv)
    )
    per_p = cum.groupBy("p").agg(
        F.sum("cscan").cast("bigint").alias("scan_total"),
        F.count("*").cast("bigint").alias("n_queries"),
    )
    w_desc = Window.orderBy(F.col("cell_n").desc(), "cell")
    worst = occ_full.select(
        F.row_number().over(w_desc).cast("int").alias("p"),
        F.sum("cell_n")
        .over(w_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("worst_scan"),
    )
    return (
        per_p.join(F.broadcast(worst), "p")
        .select(
            F.col("p").alias("n_probes"),
            "worst_scan",
            "scan_total",
            "n_queries",
            (F.col("scan_total").cast("double") / F.col("n_queries"))
            .alias("mean_scan"),
            ((F.col("p") * F.col("n_queries")).cast("double") / 16)
            .alias("balanced_scan"),
            (
                (F.col("worst_scan") * 16).cast("double")
                / (F.col("p") * F.col("n_queries"))
            ).alias("worst_skew"),
        )
        .orderBy("n_probes")
    )
