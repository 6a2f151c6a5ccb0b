"""Tier C correctness properties that SQL oracles can't express
(SURVEY §2 C8/C9/C12/C14/C15): candidate-superset guarantees, recall,
fingerprint invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark import registry
from etl_spark_eks_spark.catalog import load_table
from etl_spark_eks_spark.functions.text import tokenize
from etl_spark_eks_spark.operators.similarity import knn_cosine_bruteforce

registry.load_all()


def exact_jaccard_pairs(spark, sf_dir, threshold: float):
    """Ground truth: all-pairs token-set Jaccard >= threshold (no
    blocking) — affordable at test scale only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(tokenize("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / (F.col("a.n") + F.col("b.n") - inter)
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            jac.alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def test_lsh_config_selected_from_c118_plan(spark):
    """r7 verdict task 6: C8/C73's banding must come from C118's
    planner table, and the selection rule (cheapest signature with
    p_candidate >= 0.9999 at J=0.8) must resolve to the (16 bands,
    2 rows) = 32-hash config the operators were measured and
    contract-tested at. A grid or rule change that silently moves
    the winner fails here before it can skew recall."""
    from etl_spark_eks_spark.operators.dedup import select_lsh_config

    assert select_lsh_config() == (16, 2)


def test_driver_lsh_pick_equals_c118_table_pick(spark, sf_dir):
    """select_lsh_config picks on the driver from _c118_grid(); for
    every (recall_floor, at_jaccard) the grid holds, that pick must be
    the one the same rule picks from q_c118's Spark table."""
    from pyspark.sql import Window

    from etl_spark_eks_spark.operators.dedup import _c118_grid, select_lsh_config

    plan = registry.QUERIES["q_c118_lsh_parameter_plan"](spark, sf_dir)
    cases = plan.select(
        F.col("p_candidate").alias("floor"), F.col("jaccard").alias("at")
    ).distinct()
    first = Window.partitionBy("floor", "at").orderBy("signature_size", "bands")
    table_picks = {
        (r["floor"], r["at"]): (r["bands"], r["rows_per_band"])
        for r in cases.join(
            plan, (F.col("jaccard") == F.col("at")) & (F.col("p_candidate") >= F.col("floor"))
        )
        .withColumn("rn", F.row_number().over(first))
        .filter("rn = 1")
        .collect()
    }
    assert len(table_picks) > 1
    assert set(table_picks) == {(p, j) for _b, _r, _s, j, p, _t in _c118_grid()}
    for (floor, at), pick in table_picks.items():
        assert select_lsh_config(floor, at) == pick, (floor, at)


def test_minhash_candidates_superset_of_near_dups(spark, sf_dir):
    """C8 contract: every pair with true Jaccard >= 0.85 must be an LSH
    candidate (32 hashes / 16 bands / 2 rows: P(miss at 0.85) ~
    (1-.7225)^16 ~ 1e-9 per pair)."""
    truth = {
        (r["d1"], r["d2"])
        for r in exact_jaccard_pairs(spark, sf_dir, 0.85).collect()
    }
    cands = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in registry.QUERIES["q_c8_minhash_bands"](spark, sf_dir).collect()
    }
    assert truth, "fixture should contain near-dup pairs"
    missed = truth - cands
    assert not missed, f"LSH missed true near-dups: {sorted(missed)[:5]}"


def test_minhash_band_pairs_invariants(spark, sf_dir):
    """C8's production path — portable MinHash signatures through the
    ``band_pairs`` self-join — on arbitrary frames: deterministic,
    equal to q_c8 on the fixture, identical docs collapse into
    candidate pairs, and true near-dups (J >= 0.85) are never missed."""
    from etl_spark_eks_spark.functions.text import portable_minhash_bands_np
    from etl_spark_eks_spark.operators.dedup import band_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    run = lambda df: {
        tuple(r)
        for r in band_pairs(
            portable_minhash_bands_np(
                df, tokenize(F.col("text")), "doc_id", 32, 16
            )
        ).collect()
    }
    c1, c2 = run(d), run(d)
    assert c1 == c2, "minhash band pairs must be deterministic"
    assert c1 == {
        tuple(r)
        for r in registry.QUERIES["q_c8_minhash_bands"](spark, sf_dir).collect()
    }
    truth = {
        (r["d1"], r["d2"])
        for r in exact_jaccard_pairs(spark, sf_dir, 0.85).collect()
    }
    assert truth, "fixture should contain near-dup pairs"
    missed = truth - c1
    assert not missed, f"LSH missed true near-dups: {sorted(missed)[:5]}"
    # identical-docs collapse: every clone pair (id, id+N) must be a
    # candidate — an identical token multiset yields an identical
    # signature, hence shares every band bucket
    n = 1_000_000
    cloned = d.unionByName(
        d.select((F.col("doc_id") + n).alias("doc_id"), "text")
    )
    cc = run(cloned)
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    for i in ids:
        assert (i, i + n) in cc, f"clone pair ({i},{i + n}) not a candidate"


def test_simhash_band_pairs_invariants(spark, sf_dir):
    """C9's production path — portable SimHash signatures through the
    ``band_pairs`` self-join with its Hamming verify — on arbitrary
    frames: determinism, equality with q_c9 on the fixture, the Hamming
    threshold bound on every reported pair, and identical-docs collapse
    to Hamming-0 pairs."""
    from etl_spark_eks_spark.functions.text import hamming64
    from etl_spark_eks_spark.operators.dedup import (
        band_pairs,
        simhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    run = lambda df: {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in band_pairs(
            simhash_signatures(df, "text", "doc_id"),
            verify=("hamming", hamming64("a.sh", "b.sh"), 4),
        ).collect()
    }
    p1, p2 = run(d), run(d)
    assert p1 == p2, "simhash band pairs must be deterministic"
    assert p1 == {
        (r["doc_id_1"], r["doc_id_2"]): r["hamming"]
        for r in registry.QUERIES["q_c9_simhash_neardup"](
            spark, sf_dir
        ).collect()
    }
    for (d1, d2), h in p1.items():
        assert d1 < d2
        assert 0 <= h <= 4, f"pair ({d1},{d2}) violates Hamming bound: {h}"
    n = 1_000_000
    cloned = d.unionByName(
        d.select((F.col("doc_id") + n).alias("doc_id"), "text")
    )
    cc = run(cloned)
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    for i in ids:
        assert cc.get((i, i + n)) == 0, (
            f"clone pair ({i},{i + n}) must be a Hamming-0 pair"
        )


def test_portable_hash32_width_contract(spark):
    """functions/text.py overflow headroom (r11 advice): the portable
    minhash family's no-overflow argument requires h < 2^32 EXACTLY —
    a,b <= 2^31-2 gives max(a*h+b) = 2^63 - 2^33, inside signed 64-bit
    with only ~2^33 headroom, so any widening of portable_hash32 (9+ hex
    chars) silently wraps on Spark while DuckDB errors. Pin the width
    against hashlib and assert the bound arithmetic."""
    import hashlib

    from etl_spark_eks_spark.functions.text import (
        MH_PRIME,
        portable_coeff,
        portable_hash32,
    )

    words = ["alpha", "bravo", "", "日本語", "x" * 300]
    got = {
        r["w"]: r["h"]
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", portable_hash32("w").alias("h"))
        .collect()
    }
    for w in words:
        expect = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        assert got[w] == expect, f"width drift for {w!r}"
        assert 0 <= got[w] < 2**32
    a_max = b_max = MH_PRIME - 1  # coeff range [1, MH_PRIME-1]
    assert a_max == 2**31 - 2
    assert a_max * (2**32 - 1) + b_max == 2**63 - 2**33
    assert a_max * (2**32 - 1) + b_max < 2**63
    for s in range(8):
        assert 1 <= portable_coeff("mh_a", s) <= MH_PRIME - 1


def test_exact_dups_share_fingerprint_and_simhash(spark, sf_dir):
    """C12/C9: identical texts must collapse to identical (portable,
    q_c12's) fingerprints and (portable, q_c9's) SimHash values (hash
    determinism). The fixture at sf0.001 has no
    exact dups, so clone every doc under a shifted id first."""
    from etl_spark_eks_spark.functions.text import (
        portable_ordered_token_hashes,
        portable_rolling_fingerprint,
        portable_token_hashes,
        simhash32_from_hashes,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cloned = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    fp = cloned.withColumn(
        "th", portable_ordered_token_hashes(tokenize("text"))
    ).select(
        "doc_id",
        "text",
        portable_rolling_fingerprint("th", 3).alias("fingerprint"),
        simhash32_from_hashes(
            portable_token_hashes(tokenize("text"))
        ).alias("sh"),
    )
    bad = (
        fp.groupBy("text")
        .agg(
            F.countDistinct("fingerprint").alias("nfp"),
            F.countDistinct("sh").alias("nsh"),
            F.count("*").alias("n"),
        )
        .filter((F.col("n") > 1) & ((F.col("nfp") > 1) | (F.col("nsh") > 1)))
    )
    assert bad.count() == 0, "identical texts produced different signatures"


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """C14: LSH-bucketed ANN must achieve >= 40% top-5 recall vs brute
    force on clustered fixture data (4-bit signature keeps ~1/16 of the
    corpus per query; near vectors collide with high probability)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine_bruteforce(queries, emb, k=5).collect()
    approx = registry.QUERIES["q_c14_knn_ann_lsh"](spark, sf_dir).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"ANN recall too low: {recall:.2f}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """C17: IVF-Flat ANN (16 cells, nprobe=2) must achieve >= 40% top-5
    recall vs brute force — probing 2/16 cells on clustered data keeps
    most true neighbors in-probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine_bruteforce(queries, emb, k=5).collect()
    approx = registry.QUERIES["q_c17_knn_ivf"](spark, sf_dir).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall too low: {recall:.2f}"


def test_shingles_short_docs(spark):
    """shingles() on docs shorter than k must yield an empty array, not
    a runtime error (sequence(1, stop<1) is DESCENDING in Spark and
    slice rejects start 0 — the guard has to wrap the whole expression)."""
    from etl_spark_eks_spark.functions.text import (
        ordered_token_hashes,
        shingle_hashes,
        shingles,
    )

    df = spark.createDataFrame(
        [("a b c d",), ("a b c",), ("a b",), ("a",), ("",)], ["text"]
    )
    rows = df.select(
        F.size(shingles(tokenize("text"), 3)).alias("n")
    ).collect()
    assert [r["n"] for r in rows] == [2, 1, 0, 0, 0]
    # the long-hash shingle path must agree on counts (and not error)
    rows = (
        df.withColumn("th", ordered_token_hashes(tokenize("text")))
        .select(F.size(shingle_hashes("th", 3)).alias("n"))
        .collect()
    )
    assert [r["n"] for r in rows] == [2, 1, 0, 0, 0]


def test_ngram_jaccard_order_sensitivity(spark):
    """C16: token-set Jaccard treats a shuffled doc as a dup; shingle
    Jaccard must not."""
    from etl_spark_eks_spark.operators.dedup import jaccard_near_dedup

    df = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog today"),
            (2, "en", "dog lazy the over jumps fox brown quick the today"),
        ],
        ["doc_id", "lang", "text"],
    )
    token_pairs = jaccard_near_dedup(
        df, "text", "doc_id", ["lang"], 0.9, 1.0
    ).collect()
    assert len(token_pairs) == 1  # same vocabulary => token-set dup
    ngram_pairs = jaccard_near_dedup(
        df, "text", "doc_id", ["lang"], 0.5, 1.0, shingle_k=3
    ).collect()
    assert len(ngram_pairs) == 0  # no shared phrasing => not an n-gram dup


def test_embedding_neardup_planted_clones(spark, sf_dir):
    """C15 positive path: the registered query plants 5 jittered clones
    (vec_id + 1e6) and the LSH-blocked detector MUST find all 5
    (source, clone) pairs — plus the structural invariants (no
    self-pairs, no (b,a) flips, every pair clears the threshold)."""
    rows = registry.QUERIES["q_c15_embedding_neardup"](spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r["vec_id_1"] < r["vec_id_2"]
        assert r["sim"] >= 0.95
        key = (r["vec_id_1"], r["vec_id_2"])
        assert key not in seen
        seen.add(key)
    for i in range(5):
        assert (i, i + 1_000_000) in seen, (
            f"planted clone pair ({i}, {i + 1_000_000}) not detected; "
            f"found={sorted(seen)}"
        )


def test_embedding_neardup_fixture_has_no_natural_pairs(spark, sf_dir):
    """C15 vacuity guard: exact brute force over the raw fixture proves
    there is NO natural sim>=0.95 pair, so the detector returning only
    the planted pairs is correct — not a recall failure. (If the
    fixture ever changes to contain natural near-dups, this test will
    flag it and the planted-pair assertion above still covers recall.)"""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.functions.vector import cosine_similarity
    from etl_spark_eks_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a, b = emb.alias("a"), emb.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            cosine_similarity(
                F.col("a.embedding"), F.col("b.embedding")
            ).alias("sim")
        )
        .agg(F.max("sim").alias("max_sim"))
        .collect()[0]["max_sim"]
    )
    assert exact < 0.95, (
        f"fixture now contains a natural near-dup pair (max sim {exact}); "
        "update C15's expectations"
    )
    natural = embedding_near_duplicates(emb).collect()
    assert natural == [], "LSH detector reported a pair brute force refutes"


def test_connected_components_chain_clique_singleton(spark):
    """C18: min-label propagation must handle a chain (diameter > 1),
    a clique, and leave singletons out of the label table (they join
    back as their own keeper in the query). Run through both finishes:
    the driver union-find and, with its edge cap at 0, the distributed
    loop."""
    from unittest import mock

    from etl_spark_eks_spark.operators import dedup

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (pairwise non-adjacent ends), clique 10-11-12
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        ["a", "b"],
    )
    for cap in (dedup._CC_LOCAL_EDGES, 0):
        with mock.patch.object(dedup, "_CC_LOCAL_EDGES", cap):
            labels = {
                r["node"]: r["label"]
                for r in dedup.connected_components(edges, "a", "b").collect()
            }
        assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}, cap


def _kernel_pairs(sig, **kw):
    """Sorted (id_1, id_2, i, n_1, n_2) rows of one kernel call."""
    from etl_spark_eks_spark.operators.dedup import set_similarity_pairs

    return sorted(tuple(r) for r in set_similarity_pairs(sig, **kw).collect())


def test_jaccard_strategies_identical_pairs(spark, sf_dir):
    """C2/C16: the kernel's prefix-filter rung and triangle all-pairs
    rung are different CANDIDATE generators around the same exact
    predicate — they must return the identical pair set (the prefix
    filter has no false negatives by the pigeonhole argument; this is
    the executable form of that proof)."""
    from etl_spark_eks_spark.operators.dedup import text_signatures

    d = load_table(spark, sf_dir, "documents")
    for shingle_k in (None, 3):
        sig = text_signatures(d, "text", "doc_id", ["lang"], shingle_k)
        got = {}
        # "adaptive" takes the mask rung for token sets (31-token
        # per-lang vocab) and the prefix fallback for shingles (wide
        # vocab) — both legs of the gate are exercised here.
        for strategy in ("prefix", "allpairs", "adaptive"):
            got[strategy] = _kernel_pairs(
                sig, threshold=0.6, block_cols=["lang"], length_band=0.2,
                strategy=strategy,
            )
        assert got["prefix"] == got["allpairs"], (
            f"strategy mismatch for shingle_k={shingle_k}"
        )
        assert got["adaptive"] == got["allpairs"], (
            f"adaptive strategy mismatch for shingle_k={shingle_k}"
        )
        assert got["prefix"], "fixture should produce near-dup pairs"


def test_adaptive_pairs_match_allpairs(spark, sf_dir):
    """C18/C58 recall cross-check (round-8 verdict task 1): the
    registered queries source candidates from the kernel's
    ``strategy="adaptive"`` gate (multi-word set masks when the
    per-block vocabulary fits, exact prefix filter otherwise); the
    retired quadratic all-pairs rung survives here as the executable
    proof that the adaptive pair set is bit-identical at the exact
    J >= 0.8 / 20%-length-band contract the oracle checks."""
    from etl_spark_eks_spark.operators.dedup import text_signatures

    d = load_table(spark, sf_dir, "documents")
    sig = text_signatures(d, "text", "doc_id", ["lang"])
    got = {
        strategy: _kernel_pairs(
            sig, threshold=0.8, block_cols=["lang"], length_band=0.2,
            strategy=strategy,
        )
        for strategy in ("adaptive", "allpairs")
    }
    assert got["adaptive"] == got["allpairs"]
    assert got["adaptive"], "fixture should produce J>=0.8 pairs"


def _mask_words(sig, block_cols):
    """W of the kernel's mask rung for ``sig``, or None (prefix)."""
    from etl_spark_eks_spark.operators.dedup import _block_bitmask_table

    fit = _block_bitmask_table(
        sig.withColumn("side", F.lit(0)).withColumn("n", F.size("toks")),
        block_cols,
    )
    return None if fit is None else fit[1]


def test_adaptive_multiword_mask_matches_allpairs(spark):
    """Round 13 (verdict task 1): the MULTI-WORD mask rung — a
    dense-but-bounded vocabulary past 64 distinct tokens per block
    (the regime that used to fall off the bitmask path into the
    degenerate prefix filter) must take a W>=2-word mask and return
    the identical pair set as the quadratic allpairs reference."""
    from etl_spark_eks_spark.operators.dedup import text_signatures

    # 150 distinct tokens per lang (>64, <=512): W should be 3.
    # Docs draw 30-token windows over the vocab ring; every 5th doc
    # gets a near-clone (3 tokens swapped) so J>=0.6 pairs exist.
    vocab = [f"w{i:03d}" for i in range(150)]
    rows = []
    for d in range(80):
        lo = (d * 7) % 120
        toks = vocab[lo : lo + 30]
        rows.append((d, "xx", " ".join(toks)))
        if d % 5 == 0:
            clone = list(toks)
            clone[0], clone[1], clone[2] = vocab[lo], vocab[lo], vocab[lo]
            rows.append((d + 1000, "xx", " ".join(clone)))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sig = text_signatures(df, "text", "doc_id", ["lang"])

    # the gate really picks a multi-word mask (not the prefix fallback)
    assert _mask_words(sig, ["lang"]) == 3

    got = {
        strategy: _kernel_pairs(
            sig, threshold=0.6, block_cols=["lang"], length_band=0.2,
            strategy=strategy,
        )
        for strategy in ("adaptive", "allpairs")
    }
    assert got["adaptive"] == got["allpairs"]
    assert got["adaptive"], "planted clones should produce J>=0.6 pairs"


def test_c113_multiword_mask_band_curve_matches(spark):
    """Round 13: q_c113's mask rung with a >64-token vocabulary (W=2
    words) must fold the identical band curve as the blocked all-pairs
    reference, and so must the prefix rung."""
    from etl_spark_eks_spark.functions.text import token_hashes
    from etl_spark_eks_spark.operators.dedup import (
        _c113_fold_bands,
        set_similarity_pairs,
    )

    vocab = [f"v{i:03d}" for i in range(100)]
    rows = []
    for d in range(60):
        lo = (d * 3) % 80
        toks = vocab[lo : lo + 20]
        rows.append((d, "yy", " ".join(toks)))
        if d % 4 == 0:  # nested truncation -> mid bands
            rows.append((d + 500, "yy", " ".join(toks[:14])))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sig = df.select(
        "doc_id",
        "lang",
        F.array_sort(token_hashes(tokenize("text"))).alias("toks"),
    )
    assert _mask_words(sig, ["lang"]) == 2
    curves = {
        strategy: [
            tuple(r)
            for r in _c113_fold_bands(
                set_similarity_pairs(
                    sig, threshold=0.5, block_cols=["lang"],
                    length_band=0.5, strategy=strategy,
                )
            ).collect()
        ]
        for strategy in ("adaptive", "prefix", "allpairs")
    }
    assert curves["adaptive"] == curves["allpairs"]
    assert curves["prefix"] == curves["allpairs"]
    assert curves["adaptive"], "planted truncations should fill bands"


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """C21: PQ-ADC ANN (4 sub-spaces x 16 codes, rerank 32) must achieve
    >= 40% top-5 recall vs brute force — same bar as the LSH and IVF
    variants; the exact-cosine rerank means precision of the final
    ranking is limited only by candidate recall."""
    from etl_spark_eks_spark.operators.similarity import knn_cosine_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine_bruteforce(queries, emb, k=5).collect()
    approx = knn_cosine_pq(queries, emb, k=5).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"PQ recall too low: {recall:.2f}"


def test_kmeans_invariants(spark, sf_dir):
    """C30 contract: every vector assigned exactly once to a cluster in
    [0, k); Lloyd monotonicity — inertia after 3 iterations <= inertia
    after 1 (computed in numpy against each assignment's own centroid
    means); deterministic rerun."""
    import numpy as np

    from etl_spark_eks_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }

    def inertia(assign: dict[int, int]) -> float:
        total = 0.0
        for c in set(assign.values()):
            pts = np.stack([vecs[v] for v, cc in assign.items() if cc == c])
            total += ((pts - pts.mean(axis=0)) ** 2).sum()
        return total

    a1 = {r["vec_id"]: r["cluster"]
          for r in kmeans_lloyd(emb, k=8, iters=1).collect()}
    a3 = {r["vec_id"]: r["cluster"]
          for r in kmeans_lloyd(emb, k=8, iters=3).collect()}
    assert set(a1) == set(vecs) and set(a3) == set(vecs)
    assert all(0 <= c < 8 for c in a3.values())
    assert inertia(a3) <= inertia(a1) + 1e-9
    rerun = {r["vec_id"]: r["cluster"]
             for r in kmeans_lloyd(emb, k=8, iters=3).collect()}
    assert rerun == a3


def test_pq_recall_second_codebook(spark, sf_dir):
    """C21 at a second codebook geometry (8 sub-spaces x 8 codes,
    rerank 16): the recall floor must hold away from the default
    m=4/k*=16 point — guards against the implementation being tuned to
    one shape (sub-space slicing, ADC table lookup, and rerank must all
    generalize over m and n_codes)."""
    from etl_spark_eks_spark.operators.similarity import (
        knn_cosine_bruteforce,
        knn_cosine_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine_bruteforce(queries, emb, k=5).collect()
    approx = knn_cosine_pq(
        queries, emb, k=5, m=8, n_codes=8, rerank=16
    ).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"PQ recall too low at m=8/k8: {recall:.2f}"


def test_bucketized_range_join_equals_theta(spark, sf_dir):
    """B65: the bucketized equi-join must produce the IDENTICAL match
    set as a direct theta join for several bucket widths (including one
    far smaller and one far larger than the typical range width) — each
    (point, range) pair exactly once, no edge-of-bucket loss at
    negative values or bucket boundaries."""
    from etl_spark_eks_spark.operators.joins import bucketized_range_join

    sup = load_table(spark, sf_dir, "supplier")
    bands = sup.groupBy("s_nationkey").agg(
        (F.min("s_acctbal") - 500).alias("lo"),
        (F.max("s_acctbal") + 500).alias("hi"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    direct = cust.join(
        bands, F.col("c_acctbal").between(F.col("lo"), F.col("hi"))
    )
    want = sorted(
        (r["c_custkey"], r["s_nationkey"]) for r in direct.collect()
    )
    assert want, "fixture should produce range matches"
    for w in (37.0, 1000.0, 50000.0):
        got = sorted(
            (r["c_custkey"], r["s_nationkey"])
            for r in bucketized_range_join(
                cust, bands, "c_acctbal", "lo", "hi", w
            ).collect()
        )
        assert got == want, f"bucket width {w} broke the match set"


def test_doc_chunking_covers_and_overlaps(spark, sf_dir):
    """C32 contract: chunk k starts at k*stride; consecutive chunks of a
    long doc overlap by max-stride tokens; concatenating chunk tokens at
    stride boundaries reconstructs the document exactly; docs shorter
    than max_tokens yield a single chunk equal to the document."""
    from etl_spark_eks_spark import registry

    rows = (
        registry.QUERIES["q_c32_doc_chunking"](spark, sf_dir)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    max_tokens, stride = 64, 48
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, t in docs.items() if t}
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id]
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            start = c["chunk_idx"] * stride
            want = toks[start : start + max_tokens]
            assert c["chunk_text"].split() == want
            assert c["n_chunk_tokens"] == len(want)
        # reconstruction from stride-sized prefixes
        rebuilt = []
        for c in chunks:
            rebuilt.extend(c["chunk_text"].split()[:stride])
        assert rebuilt[: len(toks)] == toks


def test_quantile_sketch_values_are_data_points(spark, sf_dir):
    """C31: every reported quantile must be an actual n_chars value of
    its language group (discrete sketch, no interpolation), and the
    quantile vector must be monotone p25 <= p50 <= ... <= p99."""
    from etl_spark_eks_spark import registry

    rows = registry.QUERIES["q_c31_length_quantiles"](spark, sf_dir).collect()
    vals = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        vals.setdefault(r["lang"], set()).add(r["n_chars"])
    assert rows
    for r in rows:
        qs = [r["p25"], r["p50"], r["p75"], r["p90"], r["p99"]]
        assert qs == sorted(qs)
        for q in qs:
            assert q in vals[r["lang"]]


def test_sorted_layout_zone_maps_disjoint(spark, sf_dir):
    """C35: after the range-clustered rewrite, per-file footer min/max
    ranges of the cluster column must be non-overlapping (equal
    boundary values allowed — a shipdate can straddle two files only
    at the cut point), so a zone-map scanner prunes exactly."""
    from etl_spark_eks_spark import registry
    from etl_spark_eks_spark.operators.layout import file_ranges
    from etl_spark_eks_spark.sources.parquet_io import scratch_path, sf_tag

    registry.QUERIES["q_c35_sorted_layout"](spark, sf_dir).count()
    out = scratch_path("q_c35", sf_tag(sf_dir), "out")
    ranges = file_ranges(out, "l_shipdate")
    assert len(ranges) > 1, "layout should produce multiple files"
    for (_, _, prev_max), (_, next_min, _) in zip(ranges, ranges[1:]):
        assert prev_max <= next_min, (
            f"overlapping zone maps: {prev_max} > {next_min}"
        )


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir):
    """C74: after the Z-order rewrite, parquet footer min/max must
    localize files in BOTH cluster dimensions — a point predicate at
    the low corner of l_partkey AND of l_suppkey each skips at least
    a quarter of the files without opening them. A 1-D range layout
    can only ever prune on its own sort column (every file spans the
    full range of the other), which is exactly what this pins."""
    from etl_spark_eks_spark.operators.layout import file_ranges
    from etl_spark_eks_spark.sources.parquet_io import scratch_path, sf_tag

    registry.QUERIES["q_c74_zorder_layout"](spark, sf_dir).count()
    out = scratch_path("q_c74", sf_tag(sf_dir), "out")
    for col in ("l_partkey", "l_suppkey"):
        ranges = file_ranges(out, col)
        assert len(ranges) > 1, "layout should produce multiple files"
        lo = min(r[1] for r in ranges)
        containing = sum(1 for _, mn, mx in ranges if mn <= lo <= mx)
        pruned = len(ranges) - containing
        assert pruned >= len(ranges) // 4, (
            f"{col}: corner predicate prunes only {pruned} of "
            f"{len(ranges)} files — z-interleave not localizing"
        )


def test_media_phash_neardup_invariants(spark, sf_dir):
    """M4: identical payloads must collapse to identical perceptual
    hashes, and so to Hamming-0 pairs of the ``band_pairs`` self-join
    when cloned; the hash is deterministic run to run; every reported
    pair respects the Hamming threshold."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.functions.text import hamming64
    from etl_spark_eks_spark.operators.dedup import band_pairs
    from etl_spark_eks_spark.operators.multimodal import phash_signatures

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    hashes = lambda df: {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in phash_signatures(df, "payload", "doc_id").collect()
    }
    h1, h2 = hashes(d), hashes(d)
    assert h1 == h2, "perceptual hash must be deterministic"

    rows = registry.QUERIES["q_m4_media_phash_neardup"](spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["hamming"] <= 12
        assert r["doc_id_1"] < r["doc_id_2"]
    # clone every doc under a shifted id: each clone pair must be a
    # Hamming-0 pair of identical hashes
    n = max(h1) + 1
    cloned = d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + F.lit(n))
    )
    ch = hashes(cloned)
    for doc_id, ph in h1.items():
        assert ch[doc_id + n] == ph
    hamming = hamming64("a.phash_hi", "b.phash_hi") + hamming64(
        "a.phash_lo", "b.phash_lo"
    )
    pairs = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in band_pairs(
            phash_signatures(cloned, "payload", "doc_id"),
            verify=("hamming", hamming, 12),
        ).collect()
    }
    for doc_id in h1:
        assert pairs.get((doc_id, doc_id + n)) == 0


def test_portable_phash_np_bit_identical(spark, sf_dir):
    """The Arrow-batched portable phash (round 12, q_m4's official
    path) must be BIT-identical to the declarative explode-aggregate
    form on every doc — same md5-derived 60-bit majority votes,
    including the empty-payload (0, 0) contract. This is what lets
    q_m4 keep its hash oracle across the swap."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.multimodal import (
        portable_perceptual_hashes,
        portable_perceptual_hashes_np,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    # plant an empty and a sub-word payload to pin the (0, 0) branch
    n = d.agg(F.max("doc_id")).first()[0] + 1
    planted = d.unionByName(
        d.limit(2).select(
            (F.col("doc_id") + n).alias("doc_id"),
            F.expr("substring(payload, 1, doc_id % 4)").alias("payload"),
        )
    )
    decl = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in portable_perceptual_hashes(
            planted, "payload", "doc_id"
        ).collect()
    }
    np_ = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in portable_perceptual_hashes_np(
            planted, "payload", "doc_id"
        ).collect()
    }
    assert decl == np_


def test_portable_minhash_np_bit_identical(spark, sf_dir):
    """The Arrow-batched portable MinHash band table (round 12,
    q_c8's official signature path) must be BIT-identical to the
    declarative portable_token_hashes + portable_minhash_band_hashes
    expression on every doc — including the empty-token-set band
    contract (md5 of "") — which is what lets q_c8 keep its hash
    oracle across the swap."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.functions.text import (
        portable_minhash_band_hashes,
        portable_minhash_bands_np,
        portable_token_hashes,
        tokenize,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    planted = d.unionByName(
        d.limit(1).select(
            (F.col("doc_id") + n).alias("doc_id"),
            F.lit("").alias("text"),
        )
    )
    decl = {
        r["doc_id"]: r["bands"]
        for r in planted.select(
            "doc_id",
            portable_minhash_band_hashes(
                portable_token_hashes(tokenize(F.col("text"))), 32, 16
            ).alias("bands"),
        ).collect()
    }
    np_ = {
        r["doc_id"]: r["bands"]
        for r in portable_minhash_bands_np(
            planted, tokenize(F.col("text")), "doc_id", 32, 16
        ).collect()
    }
    assert decl == np_


def test_random_projection_recall_vs_bruteforce(spark, sf_dir):
    """C39: JL-projected coarse search (64 -> 24 dims) + exact rerank
    of the top-64 must achieve >= 60% top-5 recall vs brute force on
    this near-tie fixture (see the operator docstring for the measured
    containment sweep)."""
    from etl_spark_eks_spark.operators.similarity import (
        knn_cosine_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine_bruteforce(queries, emb, k=5).collect()
    approx = registry.QUERIES["q_c39_knn_random_projection"](
        spark, sf_dir
    ).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"random-projection recall too low: {recall:.2f}"


def test_media_curation_dedup_discards_clones(spark, sf_dir):
    """M5: the exact-dedup stage must discard byte-identical payloads
    (the fixture has none, so clone the corpus under shifted ids and
    assert the pipeline keeps exactly the original survivors)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.multimodal import (
        extract_media_metadata,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    n = d.agg(F.max("doc_id")).first()[0] + 1
    cloned = d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + F.lit(n))
    )
    meta = extract_media_metadata(cloned, "payload", "doc_id").select(
        "doc_id", "n_bytes"
    )
    gated = (
        cloned.join(meta, "doc_id")
        .filter(F.col("n_bytes").between(150, 350))
        .select("doc_id", F.sha2("payload", 256).alias("h"))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    kept = {
        r["doc_id"]
        for r in gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    # every keeper is an ORIGINAL id (clones lose the min-doc_id race)
    assert kept and all(k < n for k in kept)
    base_kept = {
        r["doc_id"]
        for r in registry.QUERIES["q_m5_media_curation"](spark, sf_dir)
        .select("doc_id")
        .collect()
    }
    assert kept == base_kept


def test_coreset_medoids_are_cluster_minima(spark, sf_dir):
    """C44: exactly one medoid per non-empty cluster; its distance must
    equal the minimum distance of any member of that cluster (verified
    by brute force in numpy); deterministic run to run."""
    import numpy as np

    from etl_spark_eks_spark.operators.similarity import (
        kmeans_lloyd_with_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cmat = kmeans_lloyd_with_centroids(emb, k=8, iters=3)
    members = {}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for r in assigned.collect():
        members.setdefault(r["cluster"], []).append(r["vec_id"])

    rows1 = registry.QUERIES["q_c44_coreset_medoids"](spark, sf_dir).collect()
    rows2 = registry.QUERIES["q_c44_coreset_medoids"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))

    got = {r["cluster"]: (r["medoid_vec_id"], r["dist"]) for r in rows1}
    assert set(got) == set(members)
    for cl, ids in members.items():
        dists = {i: float(np.sqrt(((vecs[i] - cmat[cl]) ** 2).sum()))
                 for i in ids}
        best = min(dists.values())
        mid, mdist = got[cl]
        assert abs(dists[mid] - best) < 1e-9
        assert abs(mdist - round(best, 6)) < 1e-6


def test_cdc_chunks_resync_after_insertion(spark, sf_dir):
    """M9's load-bearing property: content-defined boundaries must
    RE-SYNCHRONIZE after a prefix insertion — a payload and its
    junk-prefixed copy share most chunk hashes (fixed-offset chunking
    shares none), chunking is deterministic, and chunk lengths respect
    the [16, 256] clamp while reassembling to the payload length."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.multimodal import cdc_chunks

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    shifted = d.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.encode(F.lit("JUNK!!!."), "UTF-8"), F.col("payload"))
            .alias("payload"),
    )
    both = d.unionByName(shifted)
    rows = cdc_chunks(both, "payload", "doc_id").collect()
    rows2 = cdc_chunks(both, "payload", "doc_id").collect()
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2)), (
        "CDC chunking must be deterministic"
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    payload_len = {
        r["doc_id"]: len(r["payload"])
        for r in both.select("doc_id", "payload").collect()
    }
    n_resynced = 0
    for doc_id, chunks in by_doc.items():
        assert sum(c["chunk_len"] for c in chunks) == payload_len[doc_id]
        for c in chunks:
            assert c["chunk_len"] <= 256
    for doc_id in payload_len:
        if doc_id >= 1000:
            continue
        orig = {c["chunk_hash"] for c in by_doc[doc_id]}
        clone = {c["chunk_hash"] for c in by_doc[doc_id + 1000]}
        if len(by_doc[doc_id]) >= 3 and orig & clone:
            n_resynced += 1
    multi_chunk = sum(
        1 for doc_id in payload_len
        if doc_id < 1000 and len(by_doc[doc_id]) >= 3
    )
    assert multi_chunk > 0, "fixture docs too short to exercise CDC"
    assert n_resynced >= 0.8 * multi_chunk, (
        f"boundaries failed to resync after prefix insertion: "
        f"{n_resynced}/{multi_chunk} docs shared any chunk"
    )


def test_bm25_scores_are_valid_rankings(spark, sf_dir):
    """C60 invariants the oracle-equality check can't see on its own:
    scores strictly ordered as emitted, every returned doc really
    contains at least one query term, matched-term counts within
    bounds, all scores positive (BM25 idf > 0 whenever df < N)."""
    from etl_spark_eks_spark.operators.text_analysis import _BM25_TERMS

    rows = registry.QUERIES["q_c60_bm25_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    assert all(1 <= r["n_terms_matched"] <= len(_BM25_TERMS) for r in rows)
    texts = {
        r["doc_id"]: set(r["text"].split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in rows:
        assert texts[r["doc_id"]] & set(_BM25_TERMS)


def test_pagerank_mass_and_degree_sanity(spark, sf_dir):
    """C61: emitted relative ranks are positive and descending; the
    top node's rank is >= uniform (1.0) — a hub must beat the mean;
    every listed node's degree >= 1 (it came from a real edge)."""
    rows = registry.QUERIES["q_c61_pagerank"](spark, sf_dir).collect()
    assert len(rows) == 20
    rels = [r["rank_rel"] for r in rows]
    assert rels == sorted(rels, reverse=True)
    assert all(v > 0 for v in rels)
    assert rels[0] >= 1.0
    assert all(r["degree"] >= 1 for r in rows)


def test_unicode_normalize_planted_path(spark, sf_dir):
    """C62: every 7th doc carries the planted denormalized suffix and
    MUST report changed=True with norm_len < raw_len (NFC composes
    two combining sequences away and whitespace collapses); lengths
    are consistent for all docs."""
    rows = registry.QUERIES["q_c62_unicode_normalize"](spark, sf_dir).collect()
    planted = [r for r in rows if r["doc_id"] % 7 == 0]
    assert planted, "fixture must contain planted rows"
    for r in planted:
        assert r["changed"], f"doc {r['doc_id']} should be denormalized"
        assert r["norm_len"] < r["raw_len"]
    assert all(r["norm_len"] <= r["raw_len"] for r in rows)


def test_k_anonymity_tiers_are_consistent(spark, sf_dir):
    """C63: release tiers must follow from the counts row-by-row, and
    the planted rare lang must land in the suppressed tier."""
    rows = registry.QUERIES["q_c63_k_anonymity"](spark, sf_dir).collect()
    assert rows
    saw_suppressed = False
    for r in rows:
        if r["n_docs"] >= 10:
            assert r["release_level"] == "exact"
        elif r["lang_docs"] >= 10:
            assert r["release_level"] == "generalized"
        else:
            assert r["release_level"] == "suppressed"
            saw_suppressed = True
    assert saw_suppressed, "planted rare lang must be suppressed"


def test_containment_finds_planted_fragments(spark, sf_dir):
    """C64's positive path: every planted fragment (first 60% of a
    source doc's tokens, id + 4,000,000) must be reported contained in
    its source with containment exactly 1.0 — its shingle set is a
    subset by construction. Also: containment values in (0, 1]."""
    rows = registry.QUERIES["q_c64_containment_neardup"](spark, sf_dir).collect()
    assert rows
    found = {(r["src_doc"], r["dst_doc"]): r["containment"] for r in rows}
    planted_ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 101 == 0)
        .collect()
    ]
    assert planted_ids
    for did in planted_ids:
        key = (did + 4_000_000, did)
        assert key in found, f"fragment of doc {did} not detected"
        assert found[key] == 1.0
    assert all(0 < v <= 1.0 + 1e-12 for v in found.values())


def test_tar_offsets_reconstruct_shards(spark, sf_dir):
    """M10: within every shard, members ordered by doc_id must tile
    the archive exactly — offset_0 = 0, offset_{i+1} = offset_i +
    padded_i — and each padded size is the tar framing of n_bytes."""
    rows = registry.QUERIES["q_m10_tar_member_offsets"](spark, sf_dir).collect()
    assert rows
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["doc_id"])
        expect = 0
        for m in members:
            assert m["member_offset"] == expect
            assert m["padded_bytes"] == 512 + -(-m["n_bytes"] // 512) * 512
            expect += m["padded_bytes"]


def test_scd2_intervals_tile_each_user(spark, sf_dir):
    """C65: per user, intervals ordered by valid_from must chain
    (valid_to == next valid_from), exactly one open (is_current) row
    per user, consecutive intervals never share an event_type (runs
    were maximal), and valid_from strictly increases."""
    rows = registry.QUERIES["q_c65_scd2_history"](spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] < b["valid_from"]
            assert a["event_type"] != b["event_type"], (
                f"user {uid}: adjacent runs share a type — not maximal"
            )


def test_anomaly_zscores_standardize(spark, sf_dir):
    """C66: within each event_type the emitted z-scores must have
    ~zero mean and ~unit population variance (they ARE the
    standardization of the daily counts), and the flag must equal
    |z| > 2 row-by-row."""
    rows = registry.QUERIES["q_c66_feed_anomaly_zscore"](spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert r["anomalous"] == (abs(r["zscore"]) > 2.0)
        by_type.setdefault(r["event_type"], []).append(r["zscore"])
    for et, zs in by_type.items():
        m = sum(zs) / len(zs)
        v = sum(z * z for z in zs) / len(zs) - m * m
        assert abs(m) < 1e-9, (et, m)
        assert abs(v - 1.0) < 1e-9, (et, v)


def test_null_safe_join_keeps_null_group(spark, sf_dir):
    """B104: the fabricated NULL key must survive the join as its own
    matched group — the exact rows a plain equi-join would drop."""
    rows = registry.QUERIES["q_b104_null_safe_join"](spark, sf_dir).collect()
    assert any(r["prio"] is None for r in rows), "NULL<=>NULL group lost"
    for r in rows:
        assert r["n_orders"] > 0 and r["n_side_b"] > 0


def test_running_distinct_is_monotone_and_exact(spark, sf_dir):
    """B105: per user the running count must be non-decreasing, step
    at most 1, start at 1, and end at the user's true distinct-type
    count."""
    rows = registry.QUERIES["q_b105_running_distinct"](spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    truth = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n"))
        .collect()
    }
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        counts = [r["distinct_types_so_far"] for r in rs]
        assert counts[0] == 1
        assert all(0 <= b - a <= 1 for a, b in zip(counts, counts[1:]))
        assert counts[-1] == truth[uid]


def test_corpus_datasheet_internally_consistent(spark, sf_dir):
    """C67: the card's fields must satisfy their own identities —
    entropy within [0, log2(n_langs)], avg*n ~ total, dup rate in
    [0, 1)."""
    import math

    [r] = registry.QUERIES["q_c67_corpus_datasheet"](spark, sf_dir).collect()
    assert r["n_docs"] > 0 and r["total_tokens"] > 0
    assert abs(r["avg_tokens"] * r["n_docs"] - r["total_tokens"]) < 0.01 * r["n_docs"]
    assert 0 <= r["lang_entropy_bits"] <= math.log2(r["n_langs"]) + 1e-9
    assert 0 <= r["exact_dup_rate"] < 1


def test_curriculum_phases_are_quality_monotone(spark, sf_dir):
    """C68: phases must partition the corpus into contiguous token
    budgets in quality order — every doc in phase p has quality >=
    the best doc of phase p+2's worst... more precisely: the MINIMUM
    quality of phase p is >= the MAXIMUM quality of phase p+1 up to
    the one boundary doc that straddles a budget cut (same quantized
    quality can span a cut), and phase token totals are ~20k except
    the last."""
    rows = registry.QUERIES["q_c68_curriculum_phases"](spark, sf_dir).collect()
    assert rows
    phases = {}
    for r in rows:
        phases.setdefault(r["phase"], []).append(r)
    ps = sorted(phases)
    assert ps == list(range(len(ps)))
    for a, b in zip(ps, ps[1:]):
        min_a = min(r["quality"] for r in phases[a])
        max_b = max(r["quality"] for r in phases[b])
        assert min_a >= max_b - 1e-9, (a, b, min_a, max_b)
    for p in ps[:-1]:
        tot = sum(r["n_tokens"] for r in phases[p])
        # each full phase covers its 20k budget within one doc's slack
        assert tot <= 20_000 + max(r["n_tokens"] for r in phases[p])


def test_blocklist_phrases_attribution(spark, sf_dir):
    """C82: every blocklist phrase stays in the report (zeros kept);
    the planted absent phrase ('quantum flux') is exactly zero; hit
    counts dominate doc counts; and the corpus genuinely lights up at
    least one phrase (planted-positive rule)."""
    rows = registry.QUERIES["q_c82_blocklist_phrases"](spark, sf_dir).collect()
    by = {r["phrase"]: r for r in rows}
    assert len(rows) == 5
    assert by["quantum flux"]["n_docs"] == 0
    assert by["quantum flux"]["n_hits"] == 0
    assert sum(r["n_hits"] for r in rows) > 0
    for r in rows:
        assert r["n_hits"] >= r["n_docs"] >= 0


def test_source_overlap_matrix_shape(spark, sf_dir):
    """C83: pairs are canonical (src_a < src_b), never self-pairs, and
    counts are positive distinct-shingle intersections."""
    rows = registry.QUERIES["q_c83_source_overlap_matrix"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["n_shared"] > 0


def test_waterfill_conservation(spark, sf_dir):
    """C84: allocations never exceed caps, epochs never exceed 2, the
    budget is never overspent, and when the waterfill engages (some
    language below its cap) the floor-division remainder is bounded by
    the number of filled languages."""
    rows = registry.QUERIES["q_c84_token_budget_waterfill"](
        spark, sf_dir
    ).collect()
    assert rows
    total_supply = sum(r["supply"] for r in rows)
    budget = (total_supply * 8) // 5
    spent = sum(r["alloc"] for r in rows)
    n_filled = sum(1 for r in rows if r["alloc"] < r["cap"])
    for r in rows:
        assert r["alloc"] <= r["cap"] == 2 * r["supply"]
        assert r["epochs"] <= 2.0 + 1e-9
    if n_filled:
        assert spent <= budget
        assert budget - spent < n_filled + len(rows)
    else:
        assert spent == sum(r["cap"] for r in rows)


def test_embedding_source_drift_bounds(spark, sf_dir):
    """C85: cosine to the global centroid lies in [-1, 1] and every
    source is represented; the weighted mean of source centroids must
    reconstruct the global centroid, which forces the vector-count
    column to be consistent (checked via sum of n_vectors == corpus)."""
    rows = registry.QUERIES["q_c85_embedding_source_drift"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r["centroid_cos"] <= 1.0 + 1e-9
    total = sum(r["n_vectors"] for r in rows)
    from etl_spark_eks_spark.catalog import load_table

    assert total == load_table(spark, sf_dir, "embeddings").count()


def test_bpe_merge_greedy_overlap_semantics(spark):
    """C87's merge step is a plain string replace over double-space
    joined symbols — which must implement GREEDY left-to-right BPE
    merge order: 'a a a' with rule (a,a) becomes ('aa','a'), never
    ('a','aa') or ('aaa'), and consecutive occurrences all merge
    (' a b a b ' -> ' ab ab '), because each match's boundary spaces
    are preserved by the single-space-flank pattern."""
    rows = spark.sql(
        "SELECT replace('  a  a  a  ', ' a  a ', ' aa ') AS x, "
        "replace('  a  b  a  b  ', ' a  b ', ' ab ') AS y, "
        "replace('  ab  c  ', ' b  c ', ' bc ') AS z"
    ).collect()
    assert rows[0]["x"] == "  aa  a  "
    assert rows[0]["y"] == "  ab  ab  "
    # never matches INSIDE a multi-char symbol
    assert rows[0]["z"] == "  ab  c  "


def test_bpe_merge_rounds_monotone(spark, sf_dir):
    """C87: merging the argmax pair can only create pairs bounded by
    its own count and can only shrink existing ones — the per-round
    winner counts are non-increasing, and all three rounds emit."""
    rows = registry.QUERIES["q_c87_bpe_merge_rounds"](spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    assert rows[0]["pair_count"] >= rows[1]["pair_count"] >= rows[2]["pair_count"]
    for r in rows:
        assert r["left_sym"] and r["right_sym"] and r["pair_count"] > 0


def test_payload_entropy_unit_cases(spark):
    """M11 helper totality: empty payload -> 0.0 (no distribution, not
    NaN), single-byte payload -> 0.0 (not -0.0 — the sign would flip
    the driver's value hash), two equiprobable bytes -> exactly 1 bit,
    and n_distinct/n_bytes integer-exact."""
    from etl_spark_eks_spark.operators.multimodal import (
        payload_byte_entropy,
    )

    df = spark.createDataFrame(
        [(1, b""), (2, b"aaaa"), (3, b"ab"), (4, bytes(range(256)))],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in payload_byte_entropy(df, "payload", "doc_id").collect()
    }
    assert (rows[1]["n_bytes"], rows[1]["n_distinct_bytes"], rows[1]["entropy"]) == (0, 0, 0.0)
    assert (rows[2]["n_bytes"], rows[2]["n_distinct_bytes"], rows[2]["entropy"]) == (4, 1, 0.0)
    assert str(rows[2]["entropy"]) == "0.0"  # not -0.0
    assert (rows[3]["entropy"], rows[3]["n_distinct_bytes"]) == (1.0, 2)
    assert (rows[4]["entropy"], rows[4]["n_distinct_bytes"]) == (8.0, 256)


def test_dedup_decision_record_planted_outcomes(spark, sf_dir):
    """C90: every planted exact clone must come back drop_exact with
    canonical = its source; every planted fragment drop_contained with
    a canonical that is a kept doc; no doc may be its own canonical;
    keeps carry NULL canonical."""
    rows = registry.QUERIES["q_c90_dedup_decision_record"](
        spark, sf_dir
    ).collect()
    by = {r["doc_id"]: r for r in rows}
    n_docs = sum(1 for i in by if i < 2_000_000)
    for i in range(0, n_docs, 89):
        clone = by.get(i + 2_000_000)
        if clone is None:
            continue
        assert clone["verdict"] == "drop_exact", clone
        assert clone["canonical_id"] == i
    def chase(doc_id, hops=0):
        r = by[doc_id]
        assert hops < 50, "canonical chain did not terminate"
        if r["verdict"] == "keep":
            return doc_id
        return chase(r["canonical_id"], hops + 1)

    frag_seen = 0
    for i in range(0, n_docs, 101):
        frag = by.get(i + 4_000_000)
        if frag is None:
            continue
        frag_seen += 1
        assert frag["verdict"] == "drop_contained", frag
        # one-step canonical may itself be contained (acyclic by the
        # size/id tie-break) — the CHAIN must terminate at a keep
        chase(frag["doc_id"])
    assert frag_seen > 0
    # every dropped doc's chain terminates (acyclicity, fixture-wide)
    for r in rows:
        if r["verdict"] != "keep":
            chase(r["doc_id"])
    for r in rows:
        if r["verdict"] == "keep":
            assert r["canonical_id"] is None
        else:
            assert r["canonical_id"] is not None
            assert r["canonical_id"] != r["doc_id"]


def test_exact_substring_spans_planted_boundaries(spark, tmp_path):
    """C96 positive path: plant a 10-token run shared verbatim by two
    otherwise-unique documents and assert the reported spans have
    EXACT token boundaries (start/length), that both sharers are
    flagged, and that the fully-unique document is absent. With K=8
    the shared run holds duplicated 8-grams at its first 3 positions;
    the island merge must recover the full 10-token span from them."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, " ".join(f"a{i}" for i in range(30))),
        (2, " ".join(f"b{i}" for i in range(10)) + " " + shared
            + " " + " ".join(f"c{i}" for i in range(10))),
        (3, " ".join(f"d{i}" for i in range(5)) + " " + shared
            + " " + " ".join(f"e{i}" for i in range(15))),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_c96_exact_substring_spans"](
            spark, sf
        ).collect()
    }
    assert set(out) == {2, 3}, f"flagged docs wrong: {sorted(out)}"
    # doc 2: shared run at token positions 11..20 (1-based)
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 10
    # doc 3: shared run at positions 6..15
    assert out[3]["n_spans"] == 1 and out[3]["dup_tokens"] == 10
    assert out[2]["n_tokens"] == 30 and out[3]["n_tokens"] == 30


def test_semdedup_drops_exactly_planted_clones(spark, sf_dir):
    """C97 positive path: the 20 planted exact clones must each be
    dropped and dominated by their own source (vec_id - 1e6); every
    original vector must survive (fixture embeddings are independent
    gaussians, so no natural pair clears tau=0.999)."""
    rows = registry.QUERIES["q_c97_semdedup"](spark, sf_dir).collect()
    dropped = {r["vec_id"]: r["dominated_by"] for r in rows if not r["keep"]}
    assert dropped == {
        1_000_000 + i: i for i in range(20)
    }, f"drop set wrong: {sorted(dropped.items())[:5]}..."
    kept = [r for r in rows if r["keep"]]
    assert len(kept) == len(rows) - 20
    assert all(r["dominated_by"] is None for r in kept)


def test_pcm_energy_segments_unit_cases(spark):
    """M14 helper totality and island semantics: sub-frame payload ->
    no rows; an all-quiet payload -> no rows; a payload with two
    separated loud bursts -> exactly two segments with correct
    0-based frame bounds; an all-loud payload -> one segment covering
    every full frame (the trailing partial frame dropped)."""
    from etl_spark_eks_spark.operators.multimodal import (
        pcm_energy_segments,
    )

    quiet = bytes([128] * 16)          # energy 0
    loud = bytes([0] * 16)             # energy 128^2 = 16384
    df = spark.createDataFrame(
        [
            (1, b"abc"),                                   # < 1 frame
            (2, quiet * 4),                                # all quiet
            (3, loud + quiet + loud * 2 + quiet),          # two bursts
            (4, loud * 3 + b"xx"),                         # all loud + tail
        ],
        "doc_id long, payload binary",
    )
    rows = pcm_energy_segments(df, "payload", "doc_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc and 2 not in by_doc
    segs3 = sorted(by_doc[3], key=lambda r: r["seg_id"])
    assert [(s["start_frame"], s["end_frame"]) for s in segs3] == [
        (0, 0),
        (2, 3),
    ]
    assert [s["n_frames"] for s in segs3] == [1, 2]
    assert all(s["avg_energy"] == 16384.0 for s in segs3)
    (seg4,) = by_doc[4]
    assert (seg4["start_frame"], seg4["end_frame"], seg4["n_frames"]) == (
        0,
        2,
        3,
    )


def test_semantic_decontam_planted_clone_flags(spark, sf_dir):
    """C98: a train vector that IS an eval vector (cosine exactly 1)
    must be flagged with that eval item as its nearest neighbor —
    pins the flag path independent of the fixture's tau marginals."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import load_table
    from etl_spark_eks_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    clone = emb.where(F.col("vec_id") == 0).select(
        F.lit(999_001).alias("cid"), F.col("embedding").alias("ce")
    )
    best = (
        clone.crossJoin(F.broadcast(ev))
        .select(
            "cid",
            "qid",
            cosine_similarity(F.col("ce"), F.col("qe")).alias("sim"),
        )
        .groupBy("cid")
        .agg(F.max(F.struct("sim", (-F.col("qid")).alias("nq"))).alias("b"))
        .select("cid", (-F.col("b.nq")).alias("nearest"), "b.sim")
        .collect()
    )
    assert best[0]["nearest"] == 0
    assert best[0]["sim"] >= 0.999999


def test_scene_cut_shots_unit_cases(spark):
    """M15 shot semantics: constant payload -> ONE shot covering all
    full frames; a single hard level jump -> exactly two shots split
    at the jump frame; sub-frame payload -> no rows; every frame
    belongs to exactly one shot (coverage partition)."""
    from etl_spark_eks_spark.operators.multimodal import scene_cut_shots

    flat = bytes([100] * 32)
    loud = bytes([200] * 32)
    df = spark.createDataFrame(
        [
            (1, flat * 4),          # one shot, frames 0-3
            (2, flat * 2 + loud * 3),  # cut at frame 2
            (3, b"tiny"),           # < 1 frame
        ],
        "doc_id long, payload binary",
    )
    rows = scene_cut_shots(df, "payload", "doc_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    (s1,) = by_doc[1]
    assert (s1["shot_id"], s1["start_frame"], s1["end_frame"]) == (1, 0, 3)
    assert s1["avg_level"] == 100.0
    segs2 = sorted(by_doc[2], key=lambda r: r["shot_id"])
    assert [(s["start_frame"], s["end_frame"]) for s in segs2] == [
        (0, 1),
        (2, 4),
    ]
    assert [s["avg_level"] for s in segs2] == [100.0, 200.0]
    # coverage partition: frame counts sum to the full-frame count
    assert sum(s["n_frames"] for s in segs2) == 5


def test_m18_all_four_verdict_classes_carry_mass(spark, sf_dir):
    """M18's planted construction must populate ALL FOUR cells of the
    (text_dup x media_dup) matrix every run — an empty cell means the
    plant regressed and the operator is vacuously passing (the C15
    lesson)."""
    from etl_spark_eks_spark import registry

    registry.load_all()
    rows = {
        r["verdict"]: r["n_pairs"]
        for r in registry.QUERIES["q_m18_paired_modality_dedup"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {
        "drop_full_dup",
        "keep_media_variant",
        "keep_unique",
        "review_caption_variant",
    }, rows
    assert all(v >= 1 for v in rows.values()), rows


def test_semdedup_verdicts_partition_and_catch_plants(spark, sf_dir):
    """C127 invariants: verdicts cover the planted corpus exactly once;
    every representative keeps itself; every planted clone (+1e6 id,
    cosine ~0.9988 to its source) collapses onto its source's
    component; untouched natural docs (max natural pair cosine 0.51)
    are all kept; rerun is deterministic."""
    rows = registry.QUERIES["q_c127_semdedup"](spark, sf_dir).collect()
    again = registry.QUERIES["q_c127_semdedup"](spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    by_id = {r["vec_id"]: r for r in rows}
    n_orig = sum(1 for v in by_id if v < 1_000_000)
    assert len(by_id) == n_orig + sum(
        1 for v in by_id if v >= 1_000_000
    )
    for r in rows:
        # representative keeps itself and is a real row
        rep = by_id[r["rep_id"]]
        assert rep["is_kept"] and rep["rep_id"] == rep["vec_id"]
        assert r["is_kept"] == (r["vec_id"] == r["rep_id"])
    for r in rows:
        if r["vec_id"] >= 1_000_000:
            src = r["vec_id"] - 1_000_000
            # clone and source share one component: same rep
            assert r["rep_id"] == by_id[src]["rep_id"], r
            # and exactly one of the pair survives
            assert not (r["is_kept"] and by_id[src]["is_kept"]) or (
                r["rep_id"] != by_id[src]["rep_id"]
            )
    naturals = [r for r in rows if r["vec_id"] < 1_000_000]
    dropped_naturals = [r for r in naturals if not r["is_kept"]]
    # min-id representative policy: the source (smaller id) survives,
    # so no natural doc is ever dropped on this fixture
    assert not dropped_naturals, dropped_naturals[:3]


def test_repetition_loop_planted_periods(spark):
    """C130 unit cases: a period-3 loop scores 1.0 at lag 3 (smallest
    tied lag wins over its multiples), all-identical tokens score 1.0
    at period 1, natural-ish text stays under the flag threshold, and
    a one-token doc is excluded (no lag is defined)."""
    from etl_spark_eks_spark.registry import QUERIES
    import os

    rows = [
        (0, " ".join(["a", "b", "c"] * 10)),  # period-3 loop
        (1, " ".join(["x"] * 12)),  # period-1 loop
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "solo"),  # n=1: excluded
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        d.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["doc_id"]: r
            for r in QUERIES["q_c130_repetition_loop"](spark, td).collect()
        }
    assert set(got) == {0, 1, 2}
    assert got[0]["best_period"] == 3 and got[0]["loop_score"] == 1.0
    assert got[0]["is_loop"]
    assert got[1]["best_period"] == 1 and got[1]["loop_score"] == 1.0
    assert got[1]["is_loop"]
    # "the" repeats at lag 6 (2 matches of 4 compared = 0.5 max)
    assert not got[2]["is_loop"]
    assert got[2]["best_matches"] <= got[2]["n_compared"]


def test_fertility_audit_all_verdict_classes(spark, sf_dir):
    """C131: every verdict class carries mass on the fixture (the C82
    zero-row rule applied to verdicts), NO_DATA rows zero-fill their
    counts, and the in-band languages sit well clear of their band
    edges (no float tie decides a verdict)."""
    from etl_spark_eks_spark.registry import QUERIES

    rows = {r["lang"]: r for r in
            QUERIES["q_c131_fertility_audit"](spark, sf_dir).collect()}
    verdicts = {r["verdict"] for r in rows.values()}
    assert verdicts == {"OK", "TOO_LOW", "TOO_HIGH", "UNREFERENCED",
                        "NO_DATA"}, verdicts
    pt = rows["pt"]
    assert pt["verdict"] == "NO_DATA" and pt["n_docs"] == 0
    assert pt["n_tokens"] == 0 and pt["fertility"] is None
    fr = rows["fr"]
    assert fr["verdict"] == "UNREFERENCED"
    assert fr["expected_fertility"] is None and fr["fertility"] is not None
    for lang in ("en", "de"):
        r = rows[lang]
        assert r["verdict"] == "OK"
        # >25% of the band away from either edge
        band = 0.02
        assert abs(r["fert_ratio"] - 1.0) < band * 0.75, dict(r.asDict())


def test_quality_prior_smoothing_invariants(spark, sf_dir):
    """C132: shrunk rates are convex combinations — every source's
    shrunk rate lies between its raw rate and the prior, the mixing
    weight equals n/(n+M) exactly, heavier sources shrink less, and
    the degraded plant moves MOST of the way to its own evidence
    (n=100 >> M) while staying strictly above raw 0."""
    from etl_spark_eks_spark.registry import QUERIES

    rows = QUERIES["q_c132_quality_prior_smoothing"](
        spark, sf_dir
    ).collect()
    assert len(rows) >= 3
    mm = rows[0]["prior_strength"]
    assert mm >= 1.0
    for r in rows:
        lo = min(r["raw_rate"], r["prior_rate"]) - 1e-6
        hi = max(r["raw_rate"], r["prior_rate"]) + 1e-6
        assert lo <= r["shrunk_rate"] <= hi, dict(r.asDict())
        assert abs(r["shrink_weight"] - r["n"] / (r["n"] + mm)) < 1e-5
    deg = [r for r in rows if r["source"] == "src_degraded"][0]
    assert deg["raw_rate"] == 0.0
    assert 0 < deg["shrunk_rate"] < deg["prior_rate"] / 2


def test_translated_shingle_alignment_oov_resync(spark):
    """C133's distinguishing property: untranslatable tokens DROP
    before shingling, so 'join the hash a row batch' (stopwords
    interleaved) aligns with 'join hash row batch' across languages —
    surface shingles share nothing, concept shingles match; a
    vocabulary-equal but scrambled doc does NOT align (order
    sensitivity)."""
    from etl_spark_eks_spark.registry import QUERIES
    import os, tempfile

    rows = [
        (0, "join the hash a row batch scan customer", "en"),
        (1, "join hash row batch scan customer", "de"),
        (2, "customer scan batch row hash join", "fr"),  # scrambled
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with tempfile.TemporaryDirectory() as td:
        d.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            (r["lang_a"], r["lang_b"]): r
            for r in QUERIES["q_c133_translated_shingle_alignment"](
                spark, td
            ).collect()
        }
    # en/de align on all 4 concept shingles despite the stopword gaps
    assert ("de", "en") in got
    r = got[("de", "en")]
    assert r["n_shared"] == 4 and r["jaccard"] == 1.0, dict(r.asDict())
    # the scrambled fr doc shares vocabulary but no concept shingle
    assert ("de", "fr") not in got and ("en", "fr") not in got


def test_pq_refine_lloyd_monotonicity(spark, sf_dir):
    """C134: one Lloyd round can only help — recomputing assignments
    under the OLD codebook and re-centering must not increase the
    per-cell sum of squared distances (the mean minimizes SSE), every
    cell's population is consistent across its 8 dim rows, and
    non-empty cells' new centroids equal the numpy mean of their
    members to the documented 6dp-quantization tolerance."""
    import numpy as np
    from etl_spark_eks_spark.registry import QUERIES
    from etl_spark_eks_spark.catalog import load_table

    out = QUERIES["q_c134_pq_codebook_refine"](spark, sf_dir).toPandas()
    emb = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    cb = emb[:16]
    for ss in range(8):
        sv = emb[:, ss * 8 : (ss + 1) * 8]
        cv = cb[:, ss * 8 : (ss + 1) * 8]
        d2 = ((sv[:, None, :] - cv[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        sub = out[out.subspace == ss]
        for code in range(16):
            cell = sub[sub.code == code].sort_values("dim")
            members = sv[assign == code]
            ns = set(cell.n_assigned)
            assert len(ns) == 1
            assert ns.pop() == len(members), (ss, code)
            new_c = cell.new_centroid.to_numpy()
            if len(members):
                want = members.mean(axis=0)
                # dsum quantizes members to 6dp before the mean
                assert np.abs(new_c - want).max() < 1e-6, (ss, code)
                old_c = cell.old_centroid.to_numpy()
                sse_old = ((members - old_c) ** 2).sum()
                sse_new = ((members - new_c) ** 2).sum()
                assert sse_new <= sse_old + 1e-9, (ss, code)
            else:
                assert np.allclose(new_c, cell.old_centroid.to_numpy())


def test_threshold_curve_monotone_and_consistent_with_c129(spark, sf_dir):
    """C135: raising the span threshold can only shrink the report —
    n_docs and dup_tokens are non-increasing in L — and the L=12 row
    must equal q_c129's per-doc report aggregated (same shared
    suffix-LCP pass, same islands)."""
    from etl_spark_eks_spark.registry import QUERIES

    curve = {
        r["threshold"]: r
        for r in QUERIES["q_c135_dedup_threshold_curve"](
            spark, sf_dir
        ).collect()
    }
    ls = sorted(curve)
    assert ls == [8, 12, 16, 20, 24, 28, 32]
    for a, b in zip(ls, ls[1:]):
        assert curve[b]["n_docs"] <= curve[a]["n_docs"]
        assert curve[b]["dup_tokens"] <= curve[a]["dup_tokens"]
    c129 = QUERIES["q_c129_suffix_lcp_spans"](spark, sf_dir).collect()
    assert curve[12]["n_docs"] == len(c129)
    assert curve[12]["n_spans"] == sum(r["n_spans"] for r in c129)
    assert curve[12]["dup_tokens"] == sum(r["dup_tokens"] for r in c129)


def test_noise_corrected_prior_shrinks_harder(spark, sf_dir):
    """C136: subtracting sampling noise can only STRENGTHEN the prior
    — corrected_strength >= naive_strength, every corrected shrunk
    rate sits (weakly) closer to the prior than the naive one, and
    both stay convex combinations of raw and prior."""
    from etl_spark_eks_spark.registry import QUERIES

    rows = QUERIES["q_c136_noise_corrected_prior"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["corrected_strength"] >= r["naive_strength"] - 1e-9
        d_naive = abs(r["shrunk_naive"] - r["prior_rate"])
        d_corr = abs(r["shrunk_corrected"] - r["prior_rate"])
        assert d_corr <= d_naive + 1e-9, dict(r.asDict())
        lo = min(r["raw_rate"], r["prior_rate"]) - 1e-6
        hi = max(r["raw_rate"], r["prior_rate"]) + 1e-6
        assert lo <= r["shrunk_corrected"] <= hi, dict(r.asDict())


def test_pq_trajectory_lloyd_convergence(spark, sf_dir):
    """C137: Lloyd's invariants on the trajectory — distortion is
    strictly non-increasing across rounds, movement shrinks as the
    quantizer settles, round 0 reports zero movement by definition,
    and the round-1 codebook implied distortion is consistent with
    C134's single-round output (same shared discipline)."""
    from etl_spark_eks_spark.registry import QUERIES

    rows = {
        r["round"]: r
        for r in QUERIES["q_c137_pq_distortion_trajectory"](
            spark, sf_dir
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2]
    assert rows[0]["n_moved"] == 0
    assert rows[0]["distortion"] >= rows[1]["distortion"] >= rows[2][
        "distortion"
    ]
    assert rows[1]["n_moved"] >= rows[2]["n_moved"]
    for r in rows.values():
        assert 0 < r["n_nonempty"] <= 128


def test_c144_arrival_epochs_consistent_with_c141(spark, sf_dir):
    """C144 is an exact re-aggregation of C141's flagged table over
    C143's doc_id-quartile epochs: per (lang_src, lang_dst) the epoch
    counts must sum to C141's flagged-doc count, the cumulative column
    must be the monotone running total ending at that sum, and every
    epoch must be one of the four quartiles."""
    from etl_spark_eks_spark.registry import QUERIES

    flagged = {}
    for r in QUERIES["q_c141_containment_drilldown"](spark, sf_dir).collect():
        k = (r["lang_src"], r["lang_dst"])
        flagged[k] = flagged.get(k, 0) + 1
    rows = QUERIES["q_c144_containment_arrival_epochs"](
        spark, sf_dir
    ).collect()
    assert rows, "fixture should contain flagged arrivals"
    seen = {}
    last_cum = {}
    for r in rows:
        k = (r["lang_src"], r["lang_dst"])
        assert 0 <= r["epoch"] <= 3
        assert r["n_docs"] >= 1
        expect_cum = last_cum.get(k, 0) + r["n_docs"]
        assert r["cum_docs"] == expect_cum, f"cum break at {k} e{r['epoch']}"
        last_cum[k] = expect_cum
        seen[k] = seen.get(k, 0) + r["n_docs"]
    assert seen == flagged, "epoch counts must partition C141's flags"


def test_c145_ivf_gate_trace_invariants(spark, sf_dir):
    """C145's quantizer-training trace: Lloyd's distortion is strictly
    non-increasing, round 0 reports zero movement, only the final row
    may be converged (and is, unless the hard cap fired), and the
    occupancy stats are consistent — 1..16 occupied cells, the largest
    cell at least the balanced share and at most the corpus."""
    from etl_spark_eks_spark.operators.similarity import (
        _C145_K,
        _C145_MAX_ROUNDS,
    )
    from etl_spark_eks_spark.registry import QUERIES

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    rows = QUERIES["q_c145_ivf_quantizer_gate"](spark, sf_dir).collect()
    assert rows[0]["round"] == 0 and rows[0]["n_moved"] == 0
    assert [r["round"] for r in rows] == list(range(len(rows)))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["distortion"] <= prev["distortion"]
        assert not prev["converged"], "gate must stop at first converged row"
    last = rows[-1]
    assert last["converged"] or last["round"] == _C145_MAX_ROUNDS
    for r in rows:
        assert 1 <= r["n_nonempty"] <= _C145_K
        assert r["max_cell_n"] * _C145_K >= n_vecs  # pigeonhole
        assert r["max_cell_n"] <= n_vecs


def test_c147_arrival_epochs_consistent_with_c116(spark, sf_dir):
    """C147 invariants: every row belongs to a benchmark item, epochs
    are doc_id quartiles, cumulatives are monotone running totals, the
    two verbatim plants surface as FULL-overlap contaminators for
    bench docs 0 and 97 attributed to their ORIGINAL docs' epochs, and
    max_shared never exceeds the item's shingle count from C116."""
    from etl_spark_eks_spark.registry import QUERIES

    tot = {
        r["bench_doc"]: r["n_shingles"]
        for r in QUERIES["q_c116_eval_proximity_report"](
            spark, sf_dir
        ).collect()
    }
    rows = QUERIES["q_c147_contamination_arrival_epochs"](
        spark, sf_dir
    ).collect()
    assert rows, "plants guarantee at least the two full-overlap rows"
    last_cum = {}
    best = {}
    for r in rows:
        assert r["bench_doc"] % 97 == 0
        assert 0 <= r["epoch"] <= 3
        assert 1 <= r["n_cands"]
        assert r["max_shared"] <= tot[r["bench_doc"]]
        expect = last_cum.get(r["bench_doc"], 0) + r["n_cands"]
        assert r["cum_cands"] == expect
        last_cum[r["bench_doc"]] = expect
        best[r["bench_doc"]] = max(
            best.get(r["bench_doc"], 0), r["max_shared"]
        )
    for plant in (0, 97):
        assert best.get(plant) == tot[plant], (
            f"bench {plant}'s verbatim plant must be a full-overlap "
            f"contaminator"
        )


def test_c148_probe_plan_invariants(spark, sf_dir):
    """C148's planner table: one row per probe budget 1..16; scan
    costs are monotone in the budget; at p=16 every query scans the
    whole corpus (mean = worst = balanced = n) and the skew collapses
    to exactly 1; the worst case always dominates both the mean and
    the balanced reference (sum of p largest cells >= p * n/16)."""
    from etl_spark_eks_spark.registry import QUERIES

    n = load_table(spark, sf_dir, "embeddings").count()
    rows = QUERIES["q_c148_ivf_probe_policy_plan"](spark, sf_dir).collect()
    assert [r["n_probes"] for r in rows] == list(range(1, 17))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["worst_scan"] >= prev["worst_scan"]
        assert cur["mean_scan"] >= prev["mean_scan"]
    for r in rows:
        assert r["n_queries"] == n
        assert r["mean_scan"] <= r["worst_scan"] + 1e-9
        assert r["worst_skew"] >= 1.0 - 1e-12
        assert r["balanced_scan"] == r["n_probes"] * n / 16
    last = rows[-1]
    assert last["worst_scan"] == n
    assert last["mean_scan"] == float(n)
    assert last["worst_skew"] == 1.0


def test_km_assign_np_bit_identical(spark, sf_dir):
    """_assign_np (the Arrow-batched assignment behind every Lloyd
    round, here over FULL vectors as in q_c30/q_c44/q_c127/q_c140/
    q_c145) must be BIT-identical to the declarative _km_assign_decl —
    same cluster, same winning d2 double for every vector — against
    both centroid generations (the round-0 float-seed matrix and a
    DECIMAL-re-centered double matrix) and both vector column types
    (array<float> and array<double>). This is what lets those queries
    keep their unchanged hash oracles."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.functions.exact import dsum
    from etl_spark_eks_spark.operators.similarity import (
        _assign_np,
        _km_assign_decl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    variants = [
        (emb.select("vec_id", "embedding"), "embedding", "array<float>"),
        (
            emb.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("e"),
            ),
            "e",
            "array<double>",
        ),
    ]
    for base, vcol, vtype in variants:
        base = base.localCheckpoint(eager=True)
        sample = (
            emb.orderBy("vec_id").limit(8).select("embedding").collect()
        )
        cmat = [[float(x) for x in r["embedding"]] for r in sample]
        for generation in ("float-seed", "recentered-double"):
            book = dict(enumerate(cmat))
            ref = {
                r["vec_id"]: (r["cluster"], r["d2"])
                for r in _km_assign_decl(base, cmat, vcol).collect()
            }
            got = {
                r["vec_id"]: (r["code"], r["d2"])
                for r in _assign_np(base, book, vcol, vtype).collect()
            }
            assert got == ref, (
                f"divergence on the {generation} centroids ({vcol})"
            )
            # re-center with posexplode + COUNT + dsum and c = s/n in
            # Python float division, as lloyd does, so the second
            # generation exercises decimal-mean doubles
            means = (
                _assign_np(base, book, vcol, vtype)
                .select("code", F.posexplode(vcol).alias("pos", "v"))
                .select(
                    "code",
                    "pos",
                    F.col("v").cast("double").alias("v"),
                )
                .groupBy("code", "pos")
                .agg(F.count("*").alias("n"), dsum("v").alias("s"))
                .collect()
            )
            nxt = [list(row) for row in cmat]
            for m in means:
                nxt[m["code"]][m["pos"]] = m["s"] / m["n"]
            cmat = nxt


def test_km_assign_prefilter_bit_identical(spark, sf_dir):
    """The BLAS-prefilter arm of _km_assign_batch must return the
    IDENTICAL (code, d2) pair as the plain fold arm — same winner,
    same bit-for-bit fold double — with both arms FORCED on the same
    inputs, across (a) the real fixture embeddings against a large
    k=128 centroid matrix (the k >= 64 regime where the prefilter
    auto-engages in production and which no sf-fixture oracle run
    reaches), (b) a recentered-double generation of the same, and
    (c) an adversarial near-clone set where d2 -> 0 makes the matmul
    identity cancel catastrophically — the exact case the absolute
    error slack exists for. Ties (exact duplicate centroids) must
    resolve to the smaller code on both arms."""
    import numpy as np

    from etl_spark_eks_spark.operators.similarity import _km_assign_batch

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.orderBy("vec_id").select("embedding").limit(400).collect()
    )
    x = np.array(
        [[float(v) for v in r["embedding"]] for r in rows],
        dtype=np.float64,
    )
    # (a) float-seed generation: first 128 vectors as centroids
    cvs = x[:128].copy()
    for label in ("float-seed", "recentered-double"):
        c_plain, d_plain = _km_assign_batch(x, cvs, prefilter=False)
        c_pref, d_pref = _km_assign_batch(x, cvs, prefilter=True)
        assert (c_plain == c_pref).all(), label
        assert (d_plain == d_pref).all(), label  # bitwise: == on doubles
        # (b) derive a decimal-free but representative double
        # generation: the per-cluster mean in float64 (close to the
        # dsum/n doubles the Lloyd loop produces)
        nxt = cvs.copy()
        for c in range(len(cvs)):
            m = x[c_plain == c]
            if len(m):
                nxt[c] = m.mean(axis=0)
        cvs = nxt
    # (c) adversarial near-clones + exact-duplicate centroids: rows
    # at d2 ~ 1e-4 and ~0 of their centroid, plus centroid 5 == 6
    rng_base = x[:8].copy()
    cvs2 = np.vstack([rng_base] * 16)  # k=128, many exact dup centroids
    clones = rng_base.copy()
    clones[:, 0] += 5e-3  # the C127 planted-clone offset class
    xq = np.vstack([rng_base, clones])
    c_plain, d_plain = _km_assign_batch(xq, cvs2, prefilter=False)
    c_pref, d_pref = _km_assign_batch(xq, cvs2, prefilter=True)
    assert (c_plain == c_pref).all()
    assert (d_plain == d_pref).all()
    # every exact-copy row must pick the FIRST of its duplicated
    # centroids (smaller code) with d2 exactly 0.0 on both arms
    assert (c_plain[:8] == np.arange(8)).all()
    assert (d_plain[:8] == 0.0).all()


def test_pq_assign_np_bit_identical(spark, sf_dir):
    """_assign_np grouped by subspace (q_c134/q_c137/q_c142's
    assignment) must be BIT-identical to the declarative _pq_assign —
    same code, same winning d2 double for every (vec, subspace) —
    against both codebook generations: the round-0 float32 sub-vector
    codebook and a DECIMAL-re-centered double codebook. This is what
    lets those queries keep their unchanged hash oracles."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.similarity import (
        _PQ_CODES,
        _assign_np,
        _pq_assign,
        _pq_recenter,
        _pq_subspaces,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sub = _pq_subspaces(emb).localCheckpoint(eager=True)
    cb = _pq_subspaces(emb.filter(F.col("vec_id") < _PQ_CODES)).select(
        F.col("vec_id").alias("code"), "subspace", F.col("sv").alias("cv")
    )
    for generation in ("float-seed", "recentered-double"):
        book = {
            (r["subspace"], r["code"]): [float(x) for x in r["cv"]]
            for r in cb.collect()
        }
        ref = {
            (r["vec_id"], r["subspace"]): (r["code"], r["d2"])
            for r in _pq_assign(sub, cb)
            .select("vec_id", "subspace", "code", "d2")
            .collect()
        }
        got = {
            (r["vec_id"], r["subspace"]): (r["code"], r["d2"])
            for r in _assign_np(
                sub, book, "sv", "array<float>", group="subspace"
            )
            .select("vec_id", "subspace", "code", "d2")
            .collect()
        }
        assert got == ref, f"divergence on the {generation} codebook"
        cb = _pq_recenter(
            _pq_assign(sub, cb).localCheckpoint(eager=True), cb
        ).localCheckpoint(eager=True)


def test_c142_driver_recenter_bit_identical(spark, sf_dir):
    """lloyd's driver-side re-centering (per-(cell, dim) partials +
    IEEE division on the driver), as q_c142 runs it, must be
    BIT-identical to the distributed _pq_recenter over the same
    assignment — every centroid double equal, empty cells keeping the
    old centroid."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.similarity import (
        _PQ_CODES,
        _pq_recenter,
        _pq_seed,
        _pq_subspaces,
        lloyd,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_subspaces(emb.filter(F.col("vec_id") < _PQ_CODES)).select(
        F.col("vec_id").alias("code"), "subspace", F.col("sv").alias("cv")
    )
    assigned, book, _ = lloyd(
        _pq_subspaces(emb),
        _pq_seed(emb),
        vcol="sv",
        max_rounds=1,
        group="subspace",
    )
    ref = {
        (r["subspace"], r["code"]): list(r["cv"])
        for r in _pq_recenter(assigned, cb).collect()
    }
    assert book == ref


def test_lloyd_one_job_pair_per_round_and_exact_fold(spark, sf_dir):
    """lloyd's round shape: each round is ONE corpus-pass aggregate
    (under AQE its shuffle-map stage and its k*dim-row result fetch
    are two Spark jobs), plus the one widening exchange of the input —
    so max_rounds=R starts exactly 2R + 1 jobs, with no job for the
    assignment checkpoint or the trace. The driver's Decimal fold of
    the per-cell partials equals dsum("d2") over the same assignment;
    with ``eps`` the loop stops at the first converged round; and the
    CacheManager stays empty."""
    from test_plans import _jobs_in_group

    from etl_spark_eks_spark.functions.exact import dsum
    from etl_spark_eks_spark.operators.similarity import (
        _seed_book,
        lloyd,
    )

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    points = emb.select("vec_id", "embedding")
    book = _seed_book(emb, 8)
    for rounds in (1, 3):
        out = {}

        def run():
            out["r"] = lloyd(
                points, book, vcol="embedding", max_rounds=rounds
            )

        n = _jobs_in_group(spark, f"lloyd-{rounds}", run)
        assert n == 2 * rounds + 1, f"{n} jobs for {rounds} rounds"
        assigned, _, trace = out["r"]
        assert [t.round for t in trace] == list(range(rounds))
        assert trace[-1].distortion == (
            assigned.agg(dsum("d2").alias("d")).collect()[0]["d"]
        )
        assert trace[0].n_moved == 0
        assert not any(t.converged for t in trace)
    _, _, full = out["r"]
    # the gate stops at the first round whose improvement is below eps:
    # choose eps just above round 2's improvement so round 2 converges
    eps = full[2].rel_improvement * (1 + 1e-9)
    assert full[1].rel_improvement >= eps
    _, _, gated = lloyd(
        points, book, vcol="embedding", max_rounds=5, eps=eps
    )
    assert [t.round for t in gated] == [0, 1, 2]
    assert [t.converged for t in gated] == [False, False, True]
    assert [t[:6] for t in gated] == [t[:6] for t in full]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_c146_handoff_consistent_with_parents(spark, sf_dir):
    """C146's pager rows must agree exactly with the standalone
    parents: (slope, drift_rank, on_watch_list) bit-identical to
    C143's (both derive per-(source, epoch) integer sums and the same
    epoch-ordered fold), level counts a recount of C139's per-(lang,
    source) verdicts, and the pager_verdict the cross of the two.
    All four verdict branches must carry rows at this SF (the
    docstring's coverage claim)."""
    from etl_spark_eks_spark.registry import QUERIES

    trend = {
        r["source"]: r
        for r in QUERIES["q_c143_fertility_trend"](spark, sf_dir).collect()
    }
    level = {}
    for r in QUERIES["q_c139_fertility_drilldown"](spark, sf_dir).collect():
        lo, hi, n = level.get(r["source"], (0, 0, 0))
        level[r["source"]] = (
            lo + (r["verdict"] == "SOURCE_LOW"),
            hi + (r["verdict"] == "SOURCE_HIGH"),
            n + 1,
        )
    rows = QUERIES["q_c146_drift_watchlist_handoff"](spark, sf_dir).collect()
    assert {r["source"] for r in rows} == set(trend)
    verdicts = set()
    for r in rows:
        t = trend[r["source"]]
        assert r["slope"] == t["slope"], "slope must be bit-identical"
        assert r["drift_rank"] == t["drift_rank"]
        assert r["on_watch_list"] == t["on_watch_list"]
        lo, hi, n = level[r["source"]]
        assert (r["n_level_low"], r["n_level_high"], r["n_lang_cells"]) == (
            lo, hi, n,
        )
        expect = (
            "LEVEL_AND_TREND"
            if r["on_watch_list"] and (lo + hi) > 0
            else "TREND_ONLY"
            if r["on_watch_list"]
            else "LEVEL_ONLY"
            if (lo + hi) > 0
            else "CLEAN"
        )
        assert r["pager_verdict"] == expect
        verdicts.add(r["pager_verdict"])
    assert verdicts == {
        "LEVEL_AND_TREND", "TREND_ONLY", "LEVEL_ONLY", "CLEAN",
    }, f"all four pager branches must carry rows at this SF: {verdicts}"


def test_m9_oracle_fixture_is_ascii(spark, sf_dir):
    """q_m9's oracle operates on VARCHAR (DuckDB sha256/substr take
    strings), which hashes the same bytes Python's sha256 sees ONLY
    while the fixture text is pure ASCII — pin that invariant so a
    fixture change fails loudly here instead of as a silent oracle
    divergence."""
    from pyspark.sql import functions as F

    bad = (
        load_table(spark, sf_dir, "documents")
        .filter(F.octet_length("text") != F.length("text"))
        .count()
    )
    assert bad == 0, f"{bad} non-ASCII documents break the m9 oracle"


def test_m9_oracle_closed_form_matches_chunk_one(spark, sf_dir):
    """The q_m9 oracle's derivation, asserted directly: because
    257 ≡ 1 (mod 64), the cut test reduces to a 16-byte sliding sum
    mod 64, and the greedy MIN/MAX-clamped scan is reproduced by the
    next-cut-position recursion — must equal cdc_chunks' chunk_one on
    every fixture payload and its junk-prefixed clone."""
    import bisect

    import numpy as np

    W = 16

    def model(payload: bytes):
        n = len(payload)
        if n == 0:
            return [(0, 0)]
        a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        npos = max(0, n - W + 1)
        cutpos = [
            p for p in range(npos) if a[p : p + W].sum() % 64 == 0
        ]
        chunks, s = [], 0
        while True:
            j = bisect.bisect_left(cutpos, s)
            nv = cutpos[j] if j < len(cutpos) else None
            if nv is not None and nv <= s + 239:
                e = nv + 16
            elif s + 240 <= n - 16:
                e = s + 256
            else:
                e = n
            chunks.append((s, e))
            if e >= n:
                return chunks
            s = e

    # Reference: the same greedy loop chunk_one runs (inlined from
    # operators/multimodal.py:cdc_chunks, uint64 rolling hash).
    powers = np.array(
        [pow(257, W - 1 - i, 2**64) for i in range(W)], dtype=np.uint64
    )

    def chunk_one(payload: bytes):
        n = len(payload)
        if n <= 16:
            return [(0, n)]
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(arr, W)
        with np.errstate(over="ignore"):
            h = (win * powers).sum(axis=1)
        is_cut = (h & np.uint64(63)) == 0
        cuts, start = [], 0
        for i in range(n - W + 1):
            end = i + W
            if end - start >= 256 or (end - start >= 16 and is_cut[i]):
                cuts.append((start, end))
                start = end
        if start < n:
            cuts.append((start, n))
        return cuts

    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("text")
        .collect()
    ]
    assert texts
    for t in texts:
        for p in (t.encode(), b"JUNK!!!." + t.encode()):
            assert model(p) == chunk_one(p)


def test_ann_oracle_decision_margins(spark, sf_dir):
    """q_c17/q_c21's oracles rely on every argmax/rank decision having
    a margin far above BLAS-vs-sequential-fold float noise (~1e-13):
    measure the minimum margins on this fixture and assert a 1e-9
    floor — orders of magnitude of headroom in both directions."""
    import numpy as np

    emb = sorted(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    M = np.array([r["embedding"] for r in emb], dtype=np.float64)
    cmat = M[:16]
    d = np.sort(M @ cmat.T, axis=1)
    assert (d[:, -1] - d[:, -2]).min() > 1e-9  # c17 nearest cell
    assert (d[:, -2] - d[:, -3]).min() > 1e-9  # c17 second probe
    # c148 ranks ALL 16 cells per vector: every adjacent gap must clear
    # the floor (measured min 1.46e-7 across fixture SFs)
    assert np.diff(d, axis=1).min() > 1e-9
    sub = M.shape[1] // 4
    for i in range(4):  # c21 per-subspace code assignment
        s = np.sort(
            M[:, i * sub : (i + 1) * sub]
            @ cmat[:, i * sub : (i + 1) * sub].T,
            axis=1,
        )
        assert (s[:, -1] - s[:, -2]).min() > 1e-9


def test_ip_ranker_types_ties_and_groups(spark):
    """similarity.ip_ranker, the inner-product ranker behind q_c17,
    q_c21 and q_c148: float and double array inputs rank alike, an
    empty batch and a batch of one come back well-formed, equal scores
    go to the smaller code (stable sort; 64 codes, past numpy's
    insertion-sort cutoff, so an unstable sort reorders them), and
    group slices give the per-slice argmax."""
    import numpy as np
    import pandas as pd

    from etl_spark_eks_spark.operators.similarity import ip_ranker

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((16, 8))
    vecs = rng.standard_normal((6, 8)).astype(np.float32)
    expect = np.argsort(
        -(vecs.astype(np.float64) @ mat.T), axis=1, kind="stable"
    )[:, :3]
    rank3 = ip_ranker(mat, 3)
    for etype in ("float", "double"):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            f"id int, e array<{etype}>",
        )
        got = {
            r["id"]: r["c"]
            for r in df.select("id", rank3("e").alias("c")).collect()
        }
        assert got == {i: list(expect[i]) for i in range(len(vecs))}, etype
        one = df.filter("id = 2").select(rank3("e").alias("c")).collect()
        assert [r["c"] for r in one] == [list(expect[2])], etype
        assert df.filter("id < 0").select(rank3("e")).collect() == [], etype
    assert rank3.func(pd.Series([], dtype=object)).empty

    ties = np.zeros((64, 2))
    ties[::3, 0] = 1.0  # codes 0, 3, 6, ... all score 1 against e_0
    got = ip_ranker(ties, 22).func(pd.Series([np.array([1.0, 0.0])]))[0]
    assert list(got) == list(range(0, 64, 3))

    slices = [slice(0, 4), slice(4, 8)]
    x = vecs.astype(np.float64)
    per_slice = np.stack(
        [np.argmax(x[:, s] @ mat[:, s].T, axis=1) for s in slices], axis=1
    )
    got = ip_ranker(mat, 1, slices).func(pd.Series(list(vecs)))
    assert np.array_equal(np.stack(got.to_numpy()), per_slice)
