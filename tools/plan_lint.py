"""Registry-wide physical-plan lint.

Runs EVERY driver query at sf0.001 and flags the plan shapes that do not
survive 100 TB:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic row
  blow-up (the only acceptable case is a deliberately tiny side, which
  belongs on the whitelist with a reason).
- A global window (``Window`` whose partition spec is empty) anywhere a
  fact-sized stream could flow — funnels everything through one task.
  Whitelisted when the window provably sits on a dimension-sized
  aggregate (documented per query).

Usage: python tools/plan_lint.py [sf_dir]
Exit code 1 if any un-whitelisted smell is found.

tests/test_plan_quality.py pins the headline queries' *positive*
properties (pushdown, broadcast, exchange counts); this lint is the
complementary *negative* sweep across the whole registry.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opendata_gov_lt_mysql_import_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# query -> {smell: reason it is acceptable THERE}
WHITELIST: dict[str, dict[str, str]] = {
    "mixture_weights": {
        "global_window": "min over the per-source aggregate (≤ a few hundred rows)"
    },
    "mixture_apply": {
        "global_window": "min over the per-source aggregate (≤ a few hundred rows)"
    },
    "percentile_price": {
        "global_window": "quantiles of the 1-row aggregate output"
    },
    "window_funcs_suite": {
        "global_window": "demonstrates global ranking on a capped top-N subset"
    },
    "bloom_semi_join_orders": {
        "bnl_join": "1-row bloom-bitmap aggregate cross-joined onto the probe side"
    },
    "tfidf_top_keywords": {
        "bnl_join": "1-row corpus-count aggregate cross-joined onto tf "
        "(replaces a separate .count() driver action)"
    },
    "corpus_terms_suite": {
        "bnl_join": "embeds tfidf_top_keywords (1-row corpus-count "
        "cross-join, see that entry)"
    },
    "orders_custkey_skew_report": {
        "bnl_join": "1-row global-stats aggregate cross-joined onto the "
        "per-key frequency frame (same shape as tfidf's corpus count)"
    },
    "hard_negatives": {
        "bnl_join": "bounded 50-row query slice broadcast against the "
        "corpus under a label-inequality condition; the 100 TB form "
        "swaps exact scoring for the shipped IVF/LSH candidate "
        "generators (docstring)"
    },
    "negative_sample_parts": {
        "bnl_join": "user x bounded-candidate cross attach: the item side "
        "is an md5-prefix SLICE of the dim (broadcast, ~1/6 of items at "
        "any catalog size), never the full catalog"
    },
    "unigram_logprob_score": {
        "bnl_join": "1-row token-total aggregate cross-joined onto the "
        "token stream (same shape as tfidf's corpus count)"
    },
    "bigram_logprob_score": {
        "bnl_join": "1-row vocabulary-size aggregate cross-joined onto "
        "the bigram stream (same shape as unigram_logprob_score)"
    },
    "ccnet_perplexity_buckets": {
        "bnl_join": "embeds the bigram LM's 1-row vocabulary-size "
        "cross-join (see bigram_logprob_score; surfaced by the round-10 "
        "full-registry sweep)"
    },
    "q11_important_parts": {
        "bnl_join": "1-row (total, n) threshold aggregate cross-joined "
        "onto the per-part frame (replaces an eager two-pass collect; "
        "same shape as tfidf's corpus count)"
    },
    "q22_dormant_customers": {
        "bnl_join": "1-row mean-balance aggregate cross-joined onto "
        "customer before the anti join (replaces an eager two-pass "
        "collect; same shape as tfidf's corpus count)"
    },
    "nearest_centroid_assign": {
        "bnl_join": "K-row centroid frame cross-joined for broadcast argmin"
    },
    "semantic_decontaminate": {
        "bnl_join": "benchmark-sized eval-embedding set broadcast onto "
        "the training stream for exact cosine screening; at extreme "
        "eval sizes the ANN candidate generators replace the exact "
        "loop (docstring, same contract as hard_negatives)"
    },
    "kmeans_one_iter": {
        "bnl_join": "K-row centroid frame cross-joined for broadcast argmin"
    },
    "kmeans_k_fixed": {
        "bnl_join": "K-row fixed-point centroid frame cross-joined for "
        "broadcast argmin (same shape as kmeans_one_iter, per iteration)"
    },
    "emb_dup_pairs": {
        "bnl_join": "within-block brute-force verifier, block occupancy capped"
    },
    "bm25_topk_docs": {
        "bnl_join": "1-row corpus-stats aggregate (N, sum_dl, per-term "
        "fixed-point idfs) cross-joined onto the per-doc frame (same "
        "shape as tfidf's corpus count)"
    },
    "rrf_hybrid_topk": {
        "bnl_join": "embeds bm25_topk_docs (1-row corpus-stats "
        "cross-join, see that entry)",
        "global_window": "rank windows over the two LIMIT-20 retrieval "
        "outputs — <= 20 rows each by construction",
    },
    "pmi_collocations": {
        "bnl_join": "1-row (N1, NB) totals aggregate cross-joined onto "
        "the supported-bigram frame (same shape as tfidf's corpus count)"
    },
    "dsir_importance_weights": {
        "bnl_join": "1-row bucket-total aggregate cross-joined onto the "
        "fixed 256-row bucket-stats frame (constant-sized both sides)"
    },
    # classifier_train_perceptron's whitelist entry removed in round 15:
    # the driver-coordinated rewrite assembles the trace from bounded
    # collects, so the per-epoch error cross-joins (the BNL the entry
    # excused) no longer exist in the plan.
    "ann_recall_calibration": {
        "bnl_join": "fixed 64-query md5-ranked panel (a LIMIT, so Q is "
        "constant at any corpus size) and the 16-pivot frame broadcast "
        "against the collection — the exact side is Q*N with Q=64 by "
        "construction (same contract as hard_negatives/"
        "semantic_decontaminate)"
    },
    "pq_recall_calibration": {
        "bnl_join": "same fixed 64-query md5-ranked panel broadcast for "
        "the exact-L2 side (see ann_recall_calibration)"
    },
    "ann_ivfadc_topk": {
        "bnl_join": "16-pivot frame cross-joined for the broadcast "
        "cell-assignment argmin and the 1-row query vector broadcast "
        "for probing (same shape as nearest_centroid_assign)"
    },
    "ivfadc_recall_calibration": {
        "bnl_join": "fixed 64-query md5-ranked panel and the 16-pivot "
        "frame broadcast — the exact side is Q*N with Q=64 by "
        "construction (see ann_recall_calibration)"
    },
    "pq_recall_calibration_trained": {
        "bnl_join": "same fixed 64-query md5-ranked panel broadcast for "
        "the integer exact-L2 side (see ann_recall_calibration)"
    },
    "ann_ivf_occupancy_drift": {
        "bnl_join": "16-pivot frame cross-joined for the two broadcast "
        "cell-assignment argmins (same shape as nearest_centroid_assign)"
    },
    "incremental_semantic_dedup_ivf": {
        "bnl_join": "16-pivot frame cross-joined for the batch's "
        "broadcast L2 cell-assignment argmin (the ingest encoder's "
        "shape); history membership reads the pinned codes snapshot, "
        "and the screen itself is a cell-keyed hash join"
    },
    "incremental_semantic_dedup_ivf_retrained": {
        "bnl_join": "occupancy-scaled pivot frame (32 rows at sf0.1) "
        "cross-joined for the batch's broadcast L2 cell-assignment "
        "argmin — the frozen sibling's whitelisted shape over the "
        "gen-2 pivots; the screen itself stays a cell-keyed hash join"
    },
    "ann_ivfadc_residual_topk": {
        "bnl_join": "16-pivot frame cross-joined for the broadcast "
        "L2 cell-assignment argmin, the clustered-corpus construction, "
        "and the 1-row query vector broadcast for probing (same shape "
        "as ann_ivfadc_topk)"
    },
    "ann_ivf_recall_after_drift": {
        "bnl_join": "16-pivot frames (frozen + retrained) cross-joined "
        "for the broadcast assignment/probe argmins, and the fixed "
        "64-query panel broadcast for the exact side (see "
        "ann_recall_calibration)"
    },
    "ann_ivf_retrain_decision": {
        "bnl_join": "composes the two drift audits (their whitelisted "
        "shapes inherited), then assembles the decision row by "
        "cross-joining three 1-row aggregates (skew, frozen mean, "
        "retrained mean) — all single rows by construction"
    },
    "ivfadc_nprobe_sweep": {
        "bnl_join": "fixed 64-query md5-ranked panel and the 16-pivot "
        "frame broadcast for probing, plus the 3-row nprobe-bound "
        "explode — the exact side is Q*N with Q=64 by construction "
        "(see ann_recall_calibration)"
    },
    "ann_ivfadc_warm_panel_serve": {
        "bnl_join": "fixed 64-query md5-ranked panel and the 16-pivot "
        "frame broadcast for batched probing — the code-table side is "
        "scanned once and joined keyed+broadcast (see "
        "ann_recall_calibration for the panel shape)"
    },
    "ivfadc_residual_nprobe_sweep": {
        "bnl_join": "fixed 64-query md5-ranked panel and the 16-pivot "
        "frame broadcast for probing, the clustered-corpus "
        "construction, plus the 3-row nprobe-bound explode — the exact "
        "side is Q*N with Q=64 by construction (see "
        "ivfadc_nprobe_sweep)"
    },
    "ivfadc_residual_gain_audit": {
        "bnl_join": "fixed 64-query md5-ranked panel and the 16-pivot "
        "frame broadcast — the exact side is Q*N with Q=64 by "
        "construction (see ann_recall_calibration); plus the clustered "
        "construction's 16-row pivot broadcast"
    },
    "corpus_recipe_pipeline": {
        "bnl_join": "1-row stage-count aggregate cross-joined with the "
        "1-row upsample/shard aggregate to assemble the 10-row "
        "datasheet (both sides single rows by construction; the "
        "corpus-side boilerplate cross-join sits behind the "
        "localCheckpoint and is the whitelisted 1-row-array shape)"
    },
    "corpus_recipe_increment": {
        "bnl_join": "same shapes as corpus_recipe_pipeline: the frozen "
        "1-row boilerplate model broadcast onto history and batch, and "
        "the four 1-row stage aggregates cross-joined to assemble the "
        "combined datasheet"
    },
    "corpus_recipe_increment_warm": {
        "bnl_join": "same shapes as corpus_recipe_increment — the only "
        "difference is that the 1-row bp model, the history stage "
        "aggregate, and the survivor index are READ from persisted "
        "snapshot tables instead of computed in-DAG"
    },
    "assign_row_ids": {
        # the operator exists to AVOID the global window; its per-partition
        # count aggregate groups by spark_partition_id (no global window)
    },
}


def lint_plan(name: str, plan: str) -> list[str]:
    smells = []
    if "CartesianProduct" in plan:
        smells.append("cartesian")
    if "BroadcastNestedLoopJoin" in plan:
        smells.append("bnl_join")
    # a global window funnels the whole stream through one task; its
    # physical signature is a Window (with its Sort) fed by
    # Exchange SinglePartition. Plans print top-down, so the Window node
    # sits a few lines ABOVE the exchange. (Bracket-counting the Window
    # spec is ambiguous — a partitioned-but-unordered window also prints
    # two groups.)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 4):i])
            if "Window" in ctx:
                smells.append("global_window")
                break
    return smells


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-lint")
    failures = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - lint must not mask
            failures.append((name, f"ERROR {type(exc).__name__}: {exc}"))
            continue
        allowed = WHITELIST.get(name, {})
        for smell in lint_plan(name, plan):
            if smell not in allowed:
                failures.append((name, smell))
    for name, smell in failures:
        print(f"SMELL {name}: {smell}")
    print(f"linted {len(entrymod.queries())} queries, {len(failures)} findings")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
