#!/usr/bin/env python
"""Scaling probe: measure how the heavy operators scale with corpus
size, on replicas of the sf0.1 fixture at 1x / 4x / 10x.

Replication builds "independent shards": copy i>0 of a document gets
every token suffixed with `_i` and a shifted doc_id, so copies share NO
vocabulary — cross-copy similarity is exactly zero, within-copy
dup/near-dup structure replicates unchanged, and every stage of every
operator should therefore scale ~linearly in the multiplier. A slope
much above 1 on the pairwise operators would mean candidate generation
degrades with corpus size — the exact failure mode the 100 TB design
arguments claim cannot happen. This probe turns those arguments into a
measured number (see SCALE.md "Verified at bench scale").

lineitem is replicated by plain id-shift (relational rows need no
namespacing); remaining tables are symlinked unchanged.

Usage: python tools/scale_probe.py [--mults=1,4,10] [--reps=2]
Prints one JSON line per (query, mult) and a final slope summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE_SF = "/root/testdata/sf0.1"
PROBE_QUERIES = (
    "q_c1_exact_dedup",
    "q_c8_minhash_bands",
    "q_c16_ngram_jaccard",
    "q_c37_shared_chunks",
    "q_c36_stratified_sample",
    "q_c24_pack_shards",
    "q_b17_pricing_summary",
    "q_m4_media_phash_neardup",
    "q_c42_inverted_index",
    "q_c45_length_banded_packing",
    "q_c46_stable_seq_ids",
    "q_c47_sketch_partials",
    "q_c48_zipf_histogram",
    "q_m7_checksum_audit",
    # round-4 additions over the replicated tables (documents/lineitem;
    # q_c53/q_b87 are absent because embeddings/orders are symlinked
    # unchanged — a probe there would measure the copy, not the op)
    "q_c50_boilerplate_ngrams",
    "q_c52_doc_perplexity",
    "q_c54_filter_ensemble",
    "q_c55_ngram_contamination",
    "q_b88_robust_stats",
    "q_c51_bpe_pair_stats",
    "q_c56_quota_sample",
    # late round-4 additions over documents (events/orders/customer-based
    # ops — q_c61/q_c65/q_c66/q_b103/q_b104/q_b105 — are absent for the
    # same symlinked-table reason as q_c53/q_b87)
    "q_c60_bm25_topk",
    "q_c62_unicode_normalize",
    "q_c63_k_anonymity",
    "q_c64_containment_neardup",
    "q_c67_corpus_datasheet",
    "q_m9_cdc_chunk_dedup",
    "q_m10_tar_member_offsets",
    # round-5 additions over replicated tables (documents/lineitem;
    # q_b106/q_b107/q_b110 run on the symlinked events table and
    # q_b109 on event-derived intervals — absent for the same
    # measure-the-op-not-the-copy reason as earlier rounds)
    "q_c69_weighted_reservoir",
    "q_c70_interleave_curriculum",
    "q_c71_pii_class_audit",
    "q_c72_ngram_novelty",
    "q_c73_signature_probe_neardup",
    "q_b108_transpose",
    "q_b111_text_source",
    "q_b112_binaryfile_source",
    # this session's additions over replicated tables (documents/
    # lineitem; q_b116 runs on the symlinked events table — absent for
    # the measure-the-op-not-the-copy reason above)
    "q_c74_zorder_layout",
    "q_c75_segment_dedup_rewrite",
    "q_c76_epoch_upsample",
    "q_c77_vocab_oov_audit",
    "q_b115_mode_median",
    "q_b117_cached_multi_action",
    # round-6 additions over replicated tables (documents/lineitem;
    # q_c85 joins the symlinked embeddings table — only the 1x copy of
    # documents matches, so a probe would measure the scan of the
    # replicated side, not the op; q_b125/q_b124/q_b123/q_b126-128 are
    # plain agg/scan shapes already covered by q_b17's probe)
    "q_c82_blocklist_phrases",
    "q_c83_source_overlap_matrix",
    "q_c84_token_budget_waterfill",
    "q_m11_payload_entropy",
    "q_c86_range_prefix_sum",
    "q_c87_bpe_merge_rounds",
    # late round-6 additions over documents (q_b136 runs on symlinked
    # orders/customer — absent per the measure-the-op rule)
    "q_c91_dsir_importance",
    "q_c92_perplexity_buckets",
    "q_m13_aspect_bucket",
    "q_c93_intradoc_dedup",
    # closing round-6 additions over documents (q_b138 drains the
    # symlinked events table through a file stream — absent per the
    # measure-the-op rule; q_c94 joins symlinked embeddings)
    "q_c95_gopher_rules",
    "q_c96_exact_substring_spans",
    # final round-6 additions over documents (q_c98 joins the symlinked
    # embeddings table and q_b140 the symlinked events table — absent
    # per the measure-the-op rule)
    "q_c99_calibration_bins",
    "q_m14_pcm_energy_segments",
    "q_m15_scene_cut_shots",
    "q_c100_vocab_coverage_curve",
    "q_c101_source_divergence_matrix",
    "q_c102_substring_span_surgery",
    # round-7 additions over documents/lineitem (q_b164-q_b166 join the
    # symlinked orders/customer tables and q_b154/q_b167-q_b170 run on
    # symlinked orders — absent per the measure-the-op rule; q_c113's
    # blocked all-pairs is deliberately absent for the same reason as
    # q_c2/q_c18: block population grows with the corpus BY CONTRACT,
    # the documented demo path with C8 banding as the scale rung)
    "q_c110_packed_chunk_map",
    "q_c111_dup_cluster_histogram",
    "q_c112_benchmark_contamination_matrix",
    "q_c115_truncation_loss_audit",
    "q_c116_eval_proximity_report",
    "q_c117_cluster_weighted_sample",
    "q_m17_byte_range_fetch_plan",
    # late round-7 additions over documents (q_b171/q_b174 and the
    # B-surfaces run on symlinked orders/customer or no table)
    "q_c119_id_anonymization_audit",
    "q_c121_score_rank_normalize",
    "q_c122_post_dedup_mix_report",
    "q_m18_paired_modality_dedup",
    # round-8 additions over documents (q_b176-q_b179 run on the
    # symlinked lineitem/orders tables or are metadata-only — absent
    # per the measure-the-op rule; q_c113's registered bitmask path is
    # vocab-gated and the replicas' namespaced vocab (31 x mult) would
    # measure the gate, not the op — see SCALE.md round 8)
    "q_c124_heavy_hitters_sketch",
    "q_c125_token_entropy_profile",
    "q_c126_url_canonical_dedup",
    "q_m19_modality_interleave_schedule",
    # round-9: embeddings now replicate too (sign-flip namespacing, see
    # build_replica), so the embedding-tier ops probe for real. q_c127's
    # k = max(8, ceil(n/65)) policy is exactly what the probe tests:
    # sub-linear gram time iff k grows with the corpus.
    "q_c127_semdedup",
    "q_c97_semdedup",
    "q_c30_kmeans",
    "q_c128_bitmap_prefilter_dedup",
    # round-12 (optimization): the CC local-finish + adaptive-width
    # keys join the standing list — the probe is what bounds the
    # union-find cap's regime (bridges grow ~linearly in the
    # namespaced replicas) and the width estimate's growth.
    "q_c18_dedup_clusters",
    "q_c113_threshold_sweep_curve",
    # round-10 additions over documents/embeddings. q_c133 is absent:
    # the replicas namespace every token, so the lexicon join drops
    # all non-copy-0 tokens and a probe would measure the scan gate,
    # not the shingle contraction (the same vocabulary-gate rule as
    # q_c113). q_c27's unified index path rides q_c128/q_c16 probes.
    "q_c129_suffix_lcp_spans",
    "q_c130_repetition_loop",
    "q_c131_fertility_audit",
    "q_c132_quality_prior_smoothing",
    "q_c134_pq_codebook_refine",
    "q_c135_dedup_threshold_curve",
    "q_c136_noise_corrected_prior",
    "q_c137_pq_distortion_trajectory",
    # round-12 (recovered session): the full Lloyd family joins the
    # standing list now that its assignment is the Arrow-batched
    # _assign_np (q_c44 rides kmeans + a broadcast distance pass;
    # q_c140/q_c145/q_c142 are the convergence-gated trainers whose
    # per-round cost is exactly what the probe must watch).
    "q_c44_coreset_medoids",
    "q_c140_lloyd_convergence_gate",
    "q_c145_ivf_quantizer_gate",
    "q_c142_pq_convergence_gate",
)
# q_c18/q_c2/q_c58 (blocked ALL-PAIRS Jaccard) are deliberately absent: their
# blocking contract is (lang, token-count band), so block population —
# and with it pairwise work — grows with the corpus. That is the
# documented reason they are NOT the corpus-scale near-dup path (C8's
# content-keyed buckets are; q_c16's prefix-filter candidates likewise
# key on shared content). Probing them at 10x measures the contract,
# not a regression.


def build_replica(spark, mult: int) -> str:
    """Materialize the m-times corpus under /tmp and return its sf-dir."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import TABLES, load_table

    out = f"/tmp/etl_spark_eks_spark/scaleprobe/m{mult}"
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docs = load_table(spark, BASE_SF, "documents")
    n_docs = docs.count()
    copies = [docs]
    for i in range(1, mult):
        # namespace every token: no shared vocabulary across copies
        copies.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1_{i}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    rep = copies[0]
    for c in copies[1:]:
        rep = rep.unionByName(c)
    rep.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    li = load_table(spark, BASE_SF, "lineitem")
    n_ord = li.agg(F.max("l_orderkey")).first()[0] + 1
    li_rep = li
    for i in range(1, mult):
        li_rep = li_rep.unionByName(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * n_ord))
        )
    li_rep.write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )

    # embeddings replicate by copy-specific Rademacher SIGN FLIPS on a
    # shifted vec_id: a diagonal +-1 matrix is orthogonal, so every
    # within-copy cosine (and with it the dup/near-dup structure, and
    # q_c127's planted-clone geometry — n_vec % 25 == 0 keeps the
    # plant raster aligned) is preserved EXACTLY, while a cross-copy
    # pair's cosine becomes sum(v_d * w_d * s_d) with independent
    # random signs — concentrated near 0 (|cos| ~ 1/sqrt(64 dims)),
    # five sigmas below the 0.95 dedup threshold. Same "independent
    # shards" contract as the token namespacing above.
    embt = load_table(spark, BASE_SF, "embeddings")
    n_vec = embt.count()
    emb_copies = [embt]
    for i in range(1, mult):
        emb_copies.append(
            embt.select(
                (F.col("vec_id") + F.lit(i * n_vec)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, idx: (
                        x
                        * (
                            1
                            - 2
                            * F.pmod(
                                F.xxhash64(F.lit(i), idx), F.lit(2)
                            ).cast("int")
                        )
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            )
        )
    emb_rep = emb_copies[0]
    for c in emb_copies[1:]:
        emb_rep = emb_rep.unionByName(c)
    emb_rep.write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    for t in TABLES:
        if t in ("documents", "lineitem", "embeddings"):
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{t}.parquet"), dst)
    with open(done, "w") as fh:
        fh.write("ok")
    return out


def main() -> int:
    mults = [1, 4, 10]
    reps = 2
    only = None
    for arg in sys.argv[1:]:
        if arg.startswith("--mults="):
            mults = [int(x) for x in arg.split("=", 1)[1].split(",")]
        elif arg.startswith("--reps="):
            reps = int(arg.split("=", 1)[1])
        elif arg.startswith("--only="):
            only = tuple(arg.split("=", 1)[1].split(","))

    from etl_spark_eks_spark import registry
    from etl_spark_eks_spark.session import get_spark

    registry.load_all()
    spark = get_spark(
        app_name="scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    probe_queries = only if only else PROBE_QUERIES
    times: dict[str, dict[int, float]] = {q: {} for q in probe_queries}
    for mult in mults:
        sf_dir = build_replica(spark, mult)
        for q in probe_queries:
            best = None
            for _ in range(reps):
                t0 = time.perf_counter()
                df = registry.QUERIES[q](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                t = time.perf_counter() - t0
                best = t if best is None or t < best else best
                spark.catalog.clearCache()
            times[q][mult] = round(best, 3)
            print(
                json.dumps({"query": q, "mult": mult, "sec": times[q][mult]}),
                flush=True,
            )

    lo, hi = min(mults), max(mults)
    summary = {
        q: {
            "t_1x": m.get(lo),
            f"t_{hi}x": m.get(hi),
            # work-normalized slope: time ratio / data ratio (1.0 = linear)
            "slope": round((m[hi] / m[lo]) / (hi / lo), 2)
            if m.get(lo) and m.get(hi)
            else None,
        }
        for q, m in times.items()
    }
    print(json.dumps({"scale_probe": summary}, indent=2), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
