"""Sampling / mixing / packing / decontamination invariants (SURVEY §2
C22-C25) that the SQL oracles don't express: sample nesting, mixture
composition, shard budget bounds, and the no-self-join plan shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark import registry
from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.operators.sampling import (
    _SHARD_BUDGET,
    hash_bucket,
)

registry.load_all()


def test_hash_sample_nests_and_is_stable(spark, sf_dir):
    """C22: the 10% sample must be a strict subset of the 20% sample
    (same bucket function, wider cut), and re-evaluation must return
    the identical id set (no RNG anywhere)."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    s10 = {r[0] for r in d.filter(b < 100).select("doc_id").collect()}
    s20 = {r[0] for r in d.filter(b < 200).select("doc_id").collect()}
    s10_again = {r[0] for r in d.filter(b < 100).select("doc_id").collect()}
    assert s10 == s10_again
    assert s10 < s20
    n = d.count()
    # md5 buckets are uniform enough that 10% +/- 5pp holds at 500 docs
    assert 0.05 * n <= len(s10) <= 0.15 * n


def test_domain_mix_composes_with_hash_sample(spark, sf_dir):
    """C23: the mixture's per-language subset IS the hash-sample of
    that language at the language's rate — per-row fates don't depend
    on the rest of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    mixed = registry.QUERIES["q_c23_domain_mix"](spark, sf_dir)
    got_en = {
        r[0] for r in mixed.filter(F.col("lang") == "en").select("doc_id").collect()
    }
    want_en = {
        r[0]
        for r in d.filter(
            (F.col("lang") == "en") & (hash_bucket("doc_id") < 400)
        )
        .select("doc_id")
        .collect()
    }
    assert got_en == want_en


def test_pack_shards_budget_and_order(spark, sf_dir):
    """C24: shard ids are nondecreasing in doc order, start at 0, skip
    nothing, and every shard except possibly the last holds >= budget
    tokens counting its first doc's overflow (next-fit guarantee:
    a shard closes only once its running total reaches the budget)."""
    rows = (
        registry.QUERIES["q_c24_pack_shards"](spark, sf_dir)
        .orderBy("doc_id")
        .collect()
    )
    shard_tokens: dict[int, int] = {}
    prev_shard = 0
    for r in rows:
        assert r["shard_id"] >= prev_shard
        assert r["shard_id"] - prev_shard <= max(
            1, r["n_tokens"] // _SHARD_BUDGET + 1
        )
        prev_shard = r["shard_id"]
        shard_tokens[r["shard_id"]] = (
            shard_tokens.get(r["shard_id"], 0) + r["n_tokens"]
        )
    assert min(shard_tokens) == 0
    assert sorted(shard_tokens) == list(range(max(shard_tokens) + 1))
    for sid, tot in shard_tokens.items():
        if sid != max(shard_tokens):
            # the doc that OPENS the next shard pushed this one over
            assert tot + max(r["n_tokens"] for r in rows) >= _SHARD_BUDGET

def test_decontaminate_flags_exact_leaks(spark, sf_dir):
    """C25: a doc sharing zero shingles with the benchmark set never
    appears; every flagged doc genuinely shares >= 1 shingle (checked
    against an independent python recomputation on a sample)."""
    out = {
        r["doc_id"]: r["n_shared"]
        for r in registry.QUERIES["q_c25_decontaminate"](spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def sh3(text):
        t = [x for x in text.split() if x]
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    bench = set()
    for did, text in docs.items():
        if did % 97 == 0:
            bench |= sh3(text)
    for did, text in docs.items():
        if did % 97 == 0:
            assert did not in out
            continue
        n = len(sh3(text) & bench)
        assert out.get(did, 0) == n


def test_mix_and_decontaminate_plans_broadcast(spark, sf_dir):
    """C23/C25 scale shape: the rate dim and the benchmark shingle set
    must broadcast — the corpus side must not shuffle into a sort-merge
    join (at 100 TB that shuffle IS the cost)."""
    for key in ("q_c23_domain_mix", "q_c25_decontaminate"):
        plan = (
            registry.QUERIES[key](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, key
        assert "SortMergeJoin" not in plan, key


def test_incremental_dedup_broadcasts_batch(spark, sf_dir):
    """C27 scale shape: both probes must broadcast the BATCH side and
    stream the corpus — a sort-merge join here means the corpus got
    shuffled, which is exactly what incremental dedup exists to avoid."""
    plan = (
        registry.QUERIES["q_c27_incremental_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    # The single allowed sort-merge join is the final FULL OUTER merge
    # of the two per-batch match sets (broadcast hash join cannot build
    # a full-outer result) — it joins on b_id, never a corpus column.
    smj = [
        line
        for line in plan.splitlines()
        if "SortMergeJoin" in line
    ]
    assert len(smj) == 1 and "b_id" in smj[0], smj


def test_running_total_before_matches_bruteforce(spark):
    """The shared two-phase prefix sum (running_total_before — C24 token
    packing and M3 media shards both build on it) must equal the naive
    cumulative sum for arbitrary sparse/duplicate-free ids, across
    bucket sizes smaller than, comparable to, and larger than the id
    range — including ids that leave buckets empty."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    ids = [0, 1, 5, 7, 99, 100, 101, 250, 999, 1000]
    weights = [3, 0, 7, 1, 10, 2, 5, 8, 4, 6]
    df = spark.createDataFrame(
        list(zip(ids, weights)), "id long, w long"
    )
    cum = {}
    running = 0
    for i, w in sorted(zip(ids, weights)):
        cum[i] = running
        running += w
    for bucket in (1, 3, 100, 10_000):
        got = {
            r["id"]: r["__cum_before"]
            for r in running_total_before(df, "id", "w", bucket).collect()
        }
        assert got == cum, f"bucket_size={bucket} broke the prefix sum"


def test_running_total_before_partitioned_matches_bruteforce(spark):
    """The partitioned variant (C45 length bands) must equal the naive
    per-group cumulative sum — groups of very different sizes,
    including a singleton group, across bucket sizes."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    rows = [
        # (group, id, weight)
        ("a", 0, 3), ("a", 5, 7), ("a", 7, 1), ("a", 250, 8),
        ("b", 1, 4), ("b", 99, 10), ("b", 100, 2),
        ("c", 1000, 6),
    ]
    df = spark.createDataFrame(rows, "g string, id long, w long")
    cum = {}
    for g in {r[0] for r in rows}:
        running = 0
        for _, i, w in sorted(r for r in rows if r[0] == g):
            cum[(g, i)] = running
            running += w
    for bucket in (1, 3, 100, 10_000):
        got = {
            (r["g"], r["id"]): r["__cum_before"]
            for r in running_total_before(
                df, "id", "w", bucket, partition_cols=("g",)
            ).collect()
        }
        assert got == cum, f"bucket_size={bucket} broke the grouped prefix sum"


def test_stable_seq_ids_dense_permutation_and_repartition_stable(
    spark, sf_dir
):
    """C46: assigned ids must be exactly {0..n-1} (dense, no gaps, no
    dups), and must not change when the input is re-partitioned — the
    content-stability contract that monotonically_increasing_id and
    zipWithIndex both break."""
    from etl_spark_eks_spark.catalog import load_table

    q = registry.QUERIES["q_c46_stable_seq_ids"]
    out = {r["doc_id"]: r["seq_id"] for r in q(spark, sf_dir).collect()}
    n = load_table(spark, sf_dir, "documents").count()
    assert sorted(out.values()) == list(range(n))

    # Same computation over a differently-partitioned input.
    from etl_spark_eks_spark.operators.sampling import running_total_before

    d = load_table(spark, sf_dir, "documents").repartition(7, "lang")
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
    again = {
        r["doc_id"]: r["__cum_before"]
        for r in running_total_before(
            keyed, "__hkey", "__one", bucket_size=(1 << 60) // 256
        )
        .select("doc_id", "__cum_before")
        .collect()
    }
    assert again == out


def test_interleave_prefix_holds_mix_exactly(spark, sf_dir):
    """C70: the stride interleave's defining invariant — cutting the
    pos-ordered stream at ANY position X must hold, for every source,
    count_s = min(n_s, floor(X * w_s + 0.5)): the mix is exact in
    every prefix (one-doc-rounded), not just in expectation."""
    import math

    from etl_spark_eks_spark.operators.sampling import (
        _INTERLEAVE_DEFAULT,
        _INTERLEAVE_WEIGHTS,
    )

    pdf = (
        registry.QUERIES["q_c70_interleave_curriculum"](spark, sf_dir)
        .toPandas()
        .sort_values(["pos", "source", "doc_id"])
        .reset_index(drop=True)
    )
    weights = dict(_INTERLEAVE_WEIGHTS)
    n_per_source = pdf.groupby("source").size().to_dict()
    cuts = [0.5, 1.0, 3.7, 10.0, 25.0, 60.0, 200.0]
    for x in cuts:
        prefix = pdf[pdf["pos"] <= x]
        got = prefix.groupby("source").size().to_dict()
        for s, n_s in n_per_source.items():
            w = weights.get(s, _INTERLEAVE_DEFAULT)
            want = min(n_s, math.floor(x * w + 0.5))
            assert got.get(s, 0) == want, (s, x, got.get(s, 0), want)


def test_weighted_reservoir_is_deterministic_and_length_biased(spark, sf_dir):
    """C69: two runs select the IDENTICAL set (pure function of keys),
    and the sample's mean n_chars exceeds the corpus mean — the
    length-proportional inclusion A-ES exists to deliver."""
    q = registry.QUERIES["q_c69_weighted_reservoir"]
    a = sorted(r["doc_id"] for r in q(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in q(spark, sf_dir).collect())
    assert a == b and len(a) == 100
    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = (
        q(spark, sf_dir).agg(F.avg("n_chars")).first()[0]
    )
    assert sample_mean > corpus_mean


def test_range_prefix_sum_equals_window_variant(spark, sf_dir):
    """C86: the range-partitioned prefix sum must equal the bucket/
    window variant row-for-row on the same keyed input — including
    under MULTI-BATCH Arrow iteration, where the carry must persist
    across batches within a partition (forced via a 7-row batch
    size)."""
    from etl_spark_eks_spark.operators.sampling import (
        running_total_before,
        running_total_before_range,
    )

    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 1000 * 1_000_000 + F.col("id")).alias("k"),
        (F.col("id") % 13 + 1).alias("w"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = {
            r["k"]: r["__cum_before"]
            for r in running_total_before_range(
                df, "k", "w", num_partitions=8
            ).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    want = {
        r["k"]: float(r["__cum_before"])
        for r in running_total_before(
            df, "k", "w", bucket_size=1_000_000
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_range_prefix_sum_serial_step_is_partition_sized(spark, sf_dir):
    """C86: the only unpartitioned window in the range variant runs
    over the |partitions|-row totals table; the corpus itself moves
    through exactly ONE exchange (the range repartition) plus the
    broadcast of the offsets."""
    import re

    df = registry.QUERIES["q_c86_range_prefix_sum"](spark, sf_dir)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan
    # corpus-side exchanges: the range repartition; totals-side: one
    # hash/single exchange pair for the tiny aggregate + its window
    n_range = len(re.findall(r"Arguments: rangepartitioning", plan))
    assert n_range >= 1
    assert "CartesianProduct" not in plan


def test_waterfill_matches_independent_implementation(spark, sf_dir):
    """C84: the closed-form rank-window waterfill must equal an
    INDEPENDENT sequential implementation (sort by cap, hand out caps
    while the equal-share exceeds them, then floor-divide the rest) —
    the textbook algorithm re-derived in plain Python from the same
    per-language supplies."""
    rows = registry.QUERIES["q_c84_token_budget_waterfill"](
        spark, sf_dir
    ).collect()
    sup = {r["lang"]: r["supply"] for r in rows}
    budget = (sum(sup.values()) * 8) // 5
    caps = sorted(((2 * s, l) for l, s in sup.items()))
    expect = {}
    remaining, m = budget, len(caps)
    t_star = None
    for cap, lang in caps:
        share = remaining // m
        if t_star is None and share <= cap:
            t_star = share
        if t_star is not None:
            expect[lang] = t_star
        else:
            expect[lang] = cap
            remaining -= cap
            m -= 1
    got = {r["lang"]: r["alloc"] for r in rows}
    assert got == expect, (got, expect)


def test_c110_chunk_map_tiles_exactly(spark, sf_dir):
    """C110's two tiling invariants: (1) every chunk except the last is
    covered by its doc spans EXACTLY — spans sum to CHUNK, start at 0,
    end at CHUNK, and are gap/overlap-free (sorted spans are adjacent);
    (2) every doc's spans concatenate to the whole doc — per-doc span
    total equals n_doc_tokens, with exactly one is_doc_start and one
    is_doc_end."""
    from etl_spark_eks_spark.operators.sampling import _C110_CHUNK

    rows = (
        registry.QUERIES["q_c110_packed_chunk_map"](spark, sf_dir)
        .collect()
    )
    assert rows
    by_chunk: dict[int, list] = {}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_chunk.setdefault(r["chunk_id"], []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)
    last_chunk = max(by_chunk)
    for cid, spans in by_chunk.items():
        spans.sort(key=lambda r: r["tok_start"])
        assert spans[0]["tok_start"] == 0, (cid, spans[0])
        for a, b in zip(spans, spans[1:]):
            assert a["tok_end"] == b["tok_start"], (cid, a, b)
        if cid != last_chunk:
            assert spans[-1]["tok_end"] == _C110_CHUNK, (cid, spans[-1])
    for did, spans in by_doc.items():
        total = sum(r["tok_end"] - r["tok_start"] for r in spans)
        assert total == spans[0]["n_doc_tokens"], (did, total)
        assert sum(r["is_doc_start"] for r in spans) == 1
        assert sum(r["is_doc_end"] for r in spans) == 1


def test_c112_planted_copies_are_contaminated(spark, sf_dir):
    """C112's planted verbatim benchmark copies must be counted
    contaminated against their own benchmark, and every (bench,
    source) cell must have candidates."""
    rows = registry.QUERIES["q_c112_benchmark_contamination_matrix"](
        spark, sf_dir
    ).collect()
    by_bench: dict[str, int] = {}
    for r in rows:
        assert r["n_candidates"] > 0
        by_bench[r["bench"]] = by_bench.get(r["bench"], 0) + r[
            "n_contaminated"
        ]
    # one verbatim copy planted per slice -> every benchmark detects >= 1
    assert set(by_bench) == {"bench_a", "bench_b", "bench_c"}
    assert all(v >= 1 for v in by_bench.values()), by_bench


def test_c113_candidate_paths_agree(spark, sf_dir):
    """All three kernel rungs on C113's planted corpus — bitmask-set
    (``adaptive``, registered on this fixture's 31-token vocab), exact
    prefix filtering (the large-vocab rung), and the round-7 blocked
    all-pairs — must fold the identical band curve (recall 1 each; any
    lost pair would under-count a band and break the DuckDB oracle's
    hash)."""
    from etl_spark_eks_spark.operators.dedup import (
        _c113_fold_bands,
        _c113_sized_corpus,
        set_similarity_pairs,
    )

    sized = _c113_sized_corpus(spark, sf_dir)
    curves = {
        strategy: [
            tuple(r)
            for r in _c113_fold_bands(
                set_similarity_pairs(
                    sized, threshold=0.5, block_cols=["lang"],
                    length_band=0.5, strategy=strategy,
                )
            ).collect()
        ]
        for strategy in ("adaptive", "prefix", "allpairs")
    }
    assert curves["adaptive"] == curves["allpairs"]
    assert curves["prefix"] == curves["allpairs"]
    assert curves["allpairs"], "planted clones should fill bands"


def test_c113_planted_clones_land_in_expected_bands(spark, sf_dir):
    """C113's planted nested-set clones: verbatim copies must put mass
    in band 10; the 3/4- and 1/2-truncations in bands 5-9 (a nested
    truncation's Jaccard is |trunc|/|orig| in (0.4, 1.0)); and at
    least three distinct bands must carry pairs."""
    rows = registry.QUERIES["q_c113_threshold_sweep_curve"](
        spark, sf_dir
    ).collect()
    bands = {r["band_tenths"]: r["n_pairs"] for r in rows}
    assert bands.get(10, 0) >= 1, bands  # verbatim clones
    assert sum(v for b, v in bands.items() if 5 <= b <= 9) >= 1, bands
    assert len(bands) >= 3, bands
