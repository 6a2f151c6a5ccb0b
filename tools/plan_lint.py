#!/usr/bin/env python
"""Plan lint: walk EVERY registered query's physical plan and flag the
three 100 TB anti-patterns mechanically, instead of auditing plans
anecdotally, plus two session-hygiene checks:

  1. cartesian   — CartesianProduct / BroadcastNestedLoopJoin (a join
                   that compares every pair; at scale this is the
                   cliff, not a slowdown)
  2. py_row      — BatchEvalPython / row-at-a-time Python UDF in the
                   plan (the 10-100x slow path vs Arrow batches)
  3. single_part — an Exchange SinglePartition feeding work that is
                   not by-construction tiny (serial-task cliff)
  4. cache_residue — building the query (from a cleared cache) leaves
                   an entry in the session's CacheManager, which the
                   next query in a long-lived session inherits
  5. conf_write  — building the query calls RuntimeConfig.set/unset on
                   the CALLER's session (a query's settings belong on
                   ``session.scoped``); no allowlist. Streaming queries
                   are built for this check too.

Each hit is either in the query's documented allowlist (the docstring
owns the justification) or a lint FAILURE. tests/test_plans.py runs
this as a test, so a new operator that silently plans a cartesian or
a Python row loop fails CI with a pointer here.

Usage: python tools/plan_lint.py [--only=k1,k2]   (exit 1 on violations)
"""

from __future__ import annotations

import io
import sys
from contextlib import contextmanager, redirect_stdout
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.001"

# Allowlists: every entry is justified in the named query's docstring.
ALLOW_CARTESIAN = {
    "q_b16_cross_small",       # the intentional CROSS JOIN surface demo
    "q_b19_approx_cd",         # 1-row x 1-row join of the two aggregate halves (code comment: 4x faster than one Expand-planned agg)
    "q_b83_event_gap_detection",  # type-list x hour-spine (5 x ~720) — the deliberate gap spine
    "q_c3_knn_cosine",         # brute-force kNN: broadcast queries x corpus is the baseline contract
    "q_c79_contrastive_pairs", # same broadcast-anchors x corpus contract (docstring: ANN ladder composes for big anchor sets)
    "q_c94_matryoshka_recall", # same broadcast-queries x corpus contract (docstring: exact recall baseline; ANN ladder is the scale path)
    "q_c98_semantic_decontam", # same broadcast-eval x corpus contract (docstring: k-sized eval side; C97 sign buckets are the big-k pre-filter)
    "q_c101_source_divergence_matrix", # broadcast 190-row pair dim x CONTRACTED vocab table (docstring: vocab x k^2 map-side, corpus touched once)
    "q_b149_calendar_gap_fill",   # keys x broadcast 1-row date-bounds fold (the spine construction; never touches the fact table)
    "q_c107_exact_apportionment", # strata x broadcast 1-row total/target fold (the quota derivation)
    "q_c21_knn_pq",            # probe x codebook (k-sized)
    "q_c39_knn_random_projection",
    "q_c43_embedding_winsorize",  # 1-row bounds table
    "q_c59_split_divergence",  # tiny distribution x distribution compare
    "q_c67_corpus_datasheet",  # 1-row fold x 1-row fold datasheet join
    "q_c26_unigram_logprob",   # 1-row corpus-total table
    "q_c41_source_drift",      # snapshot x snapshot distribution compare (sources-sized)
    "q_c105_quality_rate_confidence",  # 1-row corpus-rate broadcast (C26's class)
    "q_c132_quality_prior_smoothing",  # 1-row moment-fold prior broadcast (C105's class)
    "q_c143_fertility_trend",  # 1-row max-id fold broadcast (C26's class; epoch derivation)
    "q_c144_containment_arrival_epochs",  # same 1-row max-id fold broadcast (C143's epoch class)
    "q_c147_contamination_arrival_epochs",  # same 1-row max-id fold broadcast (C143's epoch class)
    "q_c136_noise_corrected_prior",  # same 1-row moment-fold class as q_c132
    "q_c76_epoch_upsample",    # 1-row budget x language-count rate table (docstring: zero corpus shuffle)
    "q_c84_token_budget_waterfill",  # 1-row totals/fill x langs-sized allocation table
    "q_c40_temperature_mix",      # per-group rate table
    "q_c7_tfidf",                 # 1-row doc-count
    "q_c60_bm25_topk",            # 1-row avgdl + query-term broadcast
    # 1-row totals tables broadcast-cross-joined (C26's class)
    "q_c91_dsir_importance",
    "q_c92_perplexity_buckets",
    "q_c122_post_dedup_mix_report",  # 1-row before/after-total broadcast
    "q_m19_modality_interleave_schedule",  # 1-row modality-counts fold broadcast (C26's class; docstring-owned)
}
ALLOW_PY_ROW = {
    "q_b51_python_udf",   # the row-at-a-time surface demo the contract requires
    "q_b55_udtf_explode", # UDTF row interface
    "q_b73_python_udtf",  # python UDTF row interface
    "q_b147_polymorphic_udtf",  # python UDTF row interface (the analyze()-time polymorphism is the operator)
    "q_b172_udf_determinism_contract",  # the declared determinism-fence demo (docstring-owned)
}
ALLOW_SINGLE_PART = {
    # global-scalar audit folds: the whole output IS one (or a few)
    # rows built from partial-aggregated counts — the single partition
    # holds the k-byte final fold, never corpus rows
    "q_c103_dup_rate_estimation",   # 1-row six-count conditional agg
    "q_c143_fertility_trend",       # global drift-rank window over the sources-sized slope table (~20 rows at any corpus size)
    "q_c144_containment_arrival_epochs",  # 1-row max-id fold feeding the epoch broadcast (C143's class)
    "q_c146_drift_watchlist_handoff",  # C143's drift-rank window over the sources-sized slope table + the 1-row max-id fold
    "q_c147_contamination_arrival_epochs",  # 1-row max-id fold feeding the epoch broadcast (C143's class)
    "q_c148_ivf_probe_policy_plan",  # worst-case-curve window over the 16-row cell-occupancy table (by-construction tiny)
    "q_c119_id_anonymization_audit",  # 1-row collision-audit fold
    "q_c122_post_dedup_mix_report",   # 1-row mixture-total fold
    "q_b146_output_file_sizing",    # 1-row content/audit fold + per-file stats agg
    "q_b176_rebalance_hint",        # 1-row content/audit fold + per-file stats agg (B146's class)
    "q_b179_monotonic_id_contract", # 1-row id-audit fold of partial-aggregated counts (B19's class)
    "q_m19_modality_interleave_schedule",  # 3-row modality-counts fold + the shared prefix-sum offset window (C24's class)
    "q_b149_calendar_gap_fill",     # 1-row date-bounds fold feeding the spine
    "q_c105_quality_rate_confidence",  # 1-row corpus-rate fold broadcast back
    "q_c132_quality_prior_smoothing",  # 1-row (S, sum ppm, sum ppm^2) moment fold
    "q_c136_noise_corrected_prior",  # same 1-row moment fold + sum(1e12 DIV n)
    "q_c107_exact_apportionment",   # remainder-rank window over the |strata| (20-row) quota table
    # bucket-/band-offset windows over n/bucket_size tables (plan-tested)
    "q_c24_pack_shards",
    "q_c110_packed_chunk_map",  # same shared prefix-sum offset window as C24
    "q_c88_shard_mix_audit",
    "q_c46_stable_seq_ids", "q_c68_curriculum_phases",
    "q_m3_media_shard_pack", "q_m5_media_curation",
    "q_m10_tar_member_offsets",
    "q_m17_byte_range_fetch_plan",  # M10's prefix-sum offset window class
    # k-sized / report-sized tails documented in the docstrings
    "q_c60_bm25_topk",
    "q_c100_vocab_coverage_curve",  # global rank window over the contracted VOCAB table (C77/C48 discipline)
    "q_c67_corpus_datasheet",
    "q_c59_split_divergence", "q_c41_source_drift",
    # global vocab-rank window runs over the VOCAB table (vocab-sized,
    # never the corpus — docstring-owned)
    # C68-style prefix sum: offset window over quality-rank buckets,
    # bounded by the 1e6+1 quantization levels, not n
    "q_c78_training_data_plan",
    # 1-row corpus-total fold (C26's class); C92 additionally runs the
    # C78-style offset window over quantized-score buckets per lang
    "q_c91_dsir_importance",
    "q_c92_perplexity_buckets",
    # waterfill rank window runs on the |languages|-row table
    "q_c84_token_budget_waterfill",
    # offsets window over the |partitions|-row totals table
    "q_c86_range_prefix_sum",
    # bloom_filter_agg subquery folds the build side to ONE filter
    # value (1-row by construction) + a 1-group final agg
    "q_b132_runtime_bloom_join",
    # global scalar aggregates: the final single-partition exchange
    # folds per-partition PARTIAL aggregates (#partitions rows), the
    # map-side combine having already reduced the data — the canonical
    # two-phase COUNT/SUM shape, fine at any scale
    "q_a5_count", "q_b1_register_star", "q_b18_count_distinct",
    "q_b19_approx_cd", "q_b85_funnel_analysis",
    "q_b169_not_in_null_semantics",  # two global COUNT folds (cohort counts)
    "q_b173_compression_codec_audit",  # four 1-row digest folds (one per codec)
    # 1-row stat/bound/budget/spine-seed tables feeding broadcasts
    # (each documented in its query's docstring)
    "q_b43_scalar_subquery", "q_b83_event_gap_detection",
    "q_c26_unigram_logprob", "q_c40_temperature_mix",
    "q_c43_embedding_winsorize", "q_c76_epoch_upsample",
    "q_c7_tfidf",
}
# Queries whose returned plan reads a persisted table, so building
# them leaves a CacheManager entry (unpersisting before the caller's
# action would silently re-run the cached subtree per consumer).
ALLOW_CACHE_RESIDUE = {
    "q_b117_cached_multi_action",  # the cache IS the demo: two aggregations read one cached projection
    "q_c92_perplexity_buckets",    # per-doc table read by the bucket build, the n_l broadcast and the rank join
    "q_c101_source_divergence_matrix",  # contracted vocab tables read by the driver pulls and the final join
    "q_c102_substring_span_surgery",  # span table read by the two rewrite joins and the anti-join
}
# Streaming queries run real streams inside the builder; their plans are
# micro-batch internals, not batch plans — they are built for the
# conf_write check only.
SKIP = {
    "q_b48_watermark_stream", "q_b49_stream_dedup",
    "q_b50_exactly_once_rerun", "q_b56_stateful_user_stats",
    "q_b57_stream_stream_join", "q_b66_stream_static_join",
    "q_b72_foreachbatch_upsert", "q_b74_stream_outer_join",
    "q_b91_stream_complete_mode", "q_b98_stream_session_window",
    "q_b110_stream_update_mode",
}


@contextmanager
def _caller_conf_writes(spark):
    """Record, as "set(key)"/"unset(key)", every RuntimeConfig write
    aimed at ``spark``'s own conf while the block runs."""
    from pyspark.sql.conf import RuntimeConfig

    own = spark._jsparkSession.conf()
    hits: list[str] = []
    saved = {name: getattr(RuntimeConfig, name) for name in ("set", "unset")}

    def recording(name):
        def write(self, key, *args, **kwargs):
            if self._jconf.equals(own):
                hits.append(f"{name}({key})")
            return saved[name](self, key, *args, **kwargs)

        return write

    for name in saved:
        setattr(RuntimeConfig, name, recording(name))
    try:
        yield hits
    finally:
        for name, fn in saved.items():
            setattr(RuntimeConfig, name, fn)


def lint(only=None) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    """Return (violations, dead_allowlist_entries).

    A DEAD allowlist entry is one whose query was linted this run and
    no longer exhibits the allowlisted pattern — an improved plan whose
    stale justification would otherwise mask a future regression
    silently (VERDICT r6 item 4: without this, the ~130-key list only
    ever grows). Dead entries fail the lint the same as violations:
    the fix is deleting the entry, so the list shrinks as plans improve."""
    from etl_spark_eks_spark import registry
    from etl_spark_eks_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plan-lint")
    spark.sparkContext.setLogLevel("ERROR")

    cache = spark._jsparkSession.sharedState().cacheManager()

    keys = list(registry.QUERIES)
    if only:
        keys = [k for k in keys if k in only]
    violations: dict[str, list[str]] = {}
    used: dict[str, set[str]] = {
        "cartesian": set(), "py_row": set(), "single_part": set(),
        "cache_residue": set(),
    }
    for k in keys:
        spark.catalog.clearCache()
        with _caller_conf_writes(spark) as writes:
            df = registry.QUERIES[k](spark, SF_DIR)
        if writes:
            violations[k] = ["conf_write: " + ", ".join(writes)]
        if k in SKIP:
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        hits = []
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            if k in ALLOW_CARTESIAN:
                used["cartesian"].add(k)
            else:
                hits.append("cartesian")
        if "BatchEvalPython" in plan or "PythonUDTF" in plan:
            if k in ALLOW_PY_ROW:
                used["py_row"].add(k)
            else:
                hits.append("py_row")
        # explain("formatted") prints the exchange as "(n) Exchange" with
        # "Arguments: SinglePartition ..." on its own line, so match the
        # argument token alone — the contiguous "Exchange SinglePartition"
        # form only appears in simple-mode explain output.
        if "SinglePartition" in plan:
            if k in ALLOW_SINGLE_PART:
                used["single_part"].add(k)
            else:
                hits.append("single_part")
        if not cache.isEmpty():
            if k in ALLOW_CACHE_RESIDUE:
                used["cache_residue"].add(k)
            else:
                hits.append("cache_residue")
        if hits:
            violations.setdefault(k, []).extend(hits)
    linted = set(keys) - SKIP
    dead: dict[str, list[str]] = {}
    for pattern, allow in (
        ("cartesian", ALLOW_CARTESIAN),
        ("py_row", ALLOW_PY_ROW),
        ("single_part", ALLOW_SINGLE_PART),
        ("cache_residue", ALLOW_CACHE_RESIDUE),
    ):
        for k in sorted((allow & linted) - used[pattern]):
            dead.setdefault(k, []).append(pattern)
    return violations, dead


def main() -> int:
    only = None
    for arg in sys.argv[1:]:
        if arg.startswith("--only="):
            only = set(arg.split("=", 1)[1].split(","))
    v, dead = lint(only)
    for k, hits in sorted(v.items()):
        print(f"VIOLATION {k}: {', '.join(hits)}")
    for k, patterns in sorted(dead.items()):
        print(f"DEAD ALLOWLIST ENTRY {k}: {', '.join(patterns)}")
    print(f"== {len(v)} violations, {len(dead)} dead allowlist entries ==")
    return 1 if (v or dead) else 0


if __name__ == "__main__":
    raise SystemExit(main())
