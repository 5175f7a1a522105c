"""Benchmark harness: the one timing core of this repository.

    python bench.py [--commit [--adjudicated=NOTE]]
    python bench.py run NAME... [--runs N] [--trace]
    python bench.py ab NAME... (--ref COMMIT | --cpus N | --conf K=V ...) [--runs N]

Every subcommand times registry entries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 fixtures, ``SF_DIR``) on local[$SPARK_GRAFT_CPUS] through one
loop, :func:`time_runs`.

With no subcommand it times the HEADLINE entries, min of 3 runs each,
and prints ONE compact JSON line on stdout:
  {"metric": "...", "value": <total sec>, "unit": "sec", "n": <entries>,
   "slowest_10": {name: sec, ...}, "sf": <sf>, "full_record": <file>}
The full record, with every entry's timing and min/med/max spread, is
written to BENCH_LOCAL.json (gitignored); ``--commit`` also writes it
to BENCH_COMMITTED.json.

``run`` times the named entries in one session (``--runs`` each, default
3) and writes PROFILE_LOCAL.json (gitignored). ``--trace`` adds, per run,
the layers of ``perfbench/layers.py`` and writes each entry's formatted
plan to plans/local/ (gitignored); see :func:`traced_record`.

``ab`` compares this checkout (side A) with side B: the tree of another
commit (``--ref``), another core count (``--cpus``) or extra Spark conf
(``--conf``). The sides alternate round by round, one subprocess per
side per round, and the record goes to BENCH_COMPARE.json; see
:func:`ab_record`.

Each query is fully evaluated: a xxhash64 checksum over EVERY output
column is aggregated, so Catalyst cannot prune the projection expressions
(a bare ``count()`` would reduce map-only plans — text_quality, lang-ID,
fingerprints — to a parquet row-count scan and time nothing).
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import queries  # noqa: E402
from opendata_gov_lt_mysql_import_spark.session import get_spark  # noqa: E402
from perfbench import layers  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Shared-box noise band: an interleaved B/A ratio inside [1/1.3, 1.3] is
# noise, and --commit flags cross-round deltas beyond 1.3x.
NOISE_BAND = 1.3
# an A/B side still running after this is recorded as failed
SIDE_TIMEOUT_S = 3600
# calls per entry in one session: the headline record and each A/B side
# compare the minimum of these; the first is the cold call
CALLS = 3
PROFILE_PATH = os.path.join(HERE, "PROFILE_LOCAL.json")
PLAN_DIR = os.path.join(HERE, "plans", "local")
COMPARE_PATH = os.path.join(HERE, "BENCH_COMPARE.json")

# Headline set: the scale-sensitive queries (scans, joins, aggs, window,
# closure, dedup families, similarity, text analysis). Cheap point lookups
# are left out — they don't measure anything at sf0.1.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_supplier_volume",
    "j1_left_join_default",
    "j3_mn_collect",
    "window_top_order_per_customer",
    "events_hourly_rollup",
    "w1_tree_closure",
    "f4_package_tags",
    "f5_changed_rows",
    "dedup_exact_groups",
    "text_quality",
    "text_quality_filter",
    "text_clean",
    "text_lang_id",
    "doc_fingerprint",
    "ann_topk_cosine",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "minhash_lsh_pairs",
    "ngram_jaccard_verify_lsh",
    "events_sessionize",
    "events_asof_last_order",
    "events_range_join_recent",
    "text_bpe_token_count",
    "rollup_status_priority",
    "scalar_subquery",
    "exists_subquery",
    "percentile_price",
    "cube_status_priority",
    "window_funcs_suite",
    "rolling_7d_revenue",
    "chunk_documents",
    "pii_scrub",
    "token_topk",
    "tfidf_top_keywords",
    "pack_sequences",
    "nearest_centroid_assign",
    "text_repetition",
    "corpus_stats",
    "embedding_quantize",
    "kmeans_one_iter",
    "repeated_ngrams",
    "quality_model_score",
    "scd2_user_event_type",
    "profile_orders",
    "bloom_semi_join_orders",
    "corpus_prep_pipeline",
    "funnel_view_click_purchase",
    "cohort_retention",
    "decontaminate_hits",
    "posting_lists",
    "events_zscore_outliers",
    # round-5 surface: new plan shapes measured from the round they land
    "q7_volume_shipping",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_orders",
    "q19_discounted_revenue",
    "q22_dormant_customers",
    "w1_tree_closure_recursive",
    "dq_constraint_report",
    "events_gap_fill_hourly",
    "events_view_click_pairs",
    "events_value_trend",
    "matview_incremental_refresh",
    "semantic_dedup_arrow",
    "q8_market_share",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q4_priority_late_orders",
    "q9_nation_year_profit",
    "q11_important_parts",
    "q12_priority_by_linestatus",
    "q16_supplier_part_counts",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "q20_promotable_suppliers",
    "bpe_pair_counts",
    "incremental_neardup_lsh",
    # round-6 surface
    "zorder_pruned_scan",
    # round-7 surface: exact substring dedup (window fingerprints —
    # a new explode-heavy plan shape worth tracking at scale), the
    # incremental batch-vs-history span probe, fixed-point iterative
    # clustering, the bigram-LM join, and the CMS sketch build+probe
    "substring_dup_spans",
    "substring_dedup_clean",
    "incremental_substring_dedup",
    "kmeans_k_fixed",
    "bigram_logprob_score",
    "cms_token_topk",
    # round-7 ranking/selection/graph-structure wave: fixed-point BM25
    # top-k, DSIR importance weights (256-bucket integer reduction), and
    # degree-oriented triangle counting (the wedge join is the entry
    # whose cost is most sensitive to orientation — track it)
    "bm25_topk_docs",
    "dsir_importance_weights",
    "triangle_count_copurchase",
    "pmi_collocations",
    # KMV distinct sketch: the dedup + salted two-phase bottom-k plan
    # shape (set-semantics shuffle followed by two bounded windows)
    "kmv_distinct_sketch",
    # boilerplate scrub: line-DF count + key join + positional re-agg
    "boilerplate_line_scrub",
    # RRF hybrid retrieval: two TakeOrdered top-k's fused on <=2k rows
    "rrf_hybrid_topk",
    # incremental boilerplate scrub: index build + batch-sized probe
    "incremental_boilerplate_scrub",
    # winnowing: md5-dense map projection + one posting shuffle
    "winnow_dup_pairs",
    # round-9 surface: the winnow→span composition (screen + localize,
    # the most plan-diverse entry: winnow DAG → checkpoint → restricted
    # span join → islands) and the per-source token-budget greedy fill
    "winnow_span_report",
    "token_budget_mixture",
    # round-9 wave: URL-canonical dedup (map-only canonicalize + one
    # groupBy), CCNet tertiles (bigram DAG + per-lang window), hashed
    # classifier (zero-shuffle fused map), datasheet (two dim-keyed aggs)
    "url_canonical_dedup",
    "ccnet_perplexity_buckets",
    "quality_classifier_hashed",
    "corpus_datasheet",
    # k-center coreset: k-1 TakeOrdered(1) scans + one broadcast-argmin
    "kcenter_coreset",
    # JL sketch: 16 fused zip_with aggregates, zero-shuffle map pass
    "jl_projection_sketch",
    # next-event pairs: WindowGroupLimit cap + map-side count + collect
    "next_event_training_pairs",
    # image dHash dedup: BMP encode/decode/hash through mapInPandas
    "image_dhash_dedup",
    # estimator calibration: md5 LSH + linear verify + 10-cell report
    "minhash_estimate_calibration",
    # winnow production twin: xxhash64 fingerprints, same plan as md5
    "winnow_dup_pairs_fast",
    # epoch upsampling: zero-shuffle explode whose fan-out IS the recipe
    "epoch_upsample_mixture",
    # round-10 flagship: the nine-stage corpus recipe as one DAG —
    # url dedup → exact dedup → scrub → LSH near-dup → gopher gate →
    # decontaminate → mixture → upsample → shard, datasheet output
    "corpus_recipe_pipeline",
    # skew pair: zipfian key (60% of rows on one key) through the
    # salted join vs the plain shuffle join — the wall-clock delta IS
    # the measurement (how much of the straggler AQE recovers alone)
    "skew_salted_join_zipf",
    "skew_plain_join_zipf",
    # round-11: the 95%-hot-key skew pair (the AQE-vs-salting
    # crossover probe)
    "skew_salted_join_hot95",
    "skew_plain_join_hot95",
    # audio perceptual dedup: WAV encode/decode/envelope-hash through
    # mapInPandas (the audio twin of image_dhash_dedup)
    "audio_envelope_dedup",
    # ANN recall calibration: exact panel scoring + IVF probe overlap
    "ann_recall_calibration",
    # in-engine perceptron training: 3 unrolled epochs of broadcast
    # weight joins + gradient aggregates over the hashed feature frame
    "classifier_train_perceptron",
    # recipe removed-sample audit: shares the labeled frame with the
    # datasheet; cost is the labeling DAG + six bounded rank partitions
    "corpus_recipe_rejects",
    # product quantization: subspace explode + 32-row codebook argmin;
    # ADC search: 32-entry lookup-table join + TakeOrdered
    "pq_quantize_embeddings",
    "pq_adc_topk",
    # PQ recall: the calibration trilogy's third leg (ADC vs exact L2)
    "pq_recall_calibration",
    # source overlap matrix: fingerprint groupBy + HOF pair explode —
    # the no-self-join provenance diagnostic
    "source_overlap_matrix",
    # round-11: IVFADC — coarse-cell probe restricting the ADC code
    # scan (the FAISS serving layout), and its recall audit on the
    # fixed 64-query panel (cells + codes composed loss)
    "ann_ivfadc_topk",
    "ivfadc_recall_calibration",
    # round-11: learned PQ codebooks — two unrolled fixed-point Lloyd
    # iterations per subspace (broadcast codebook argmin + 32x16-cell
    # update shuffle per round)
    "pq_train_codebook",
    # round-11: ADC search on the trained codebook (the closed Jégou
    # loop: train -> compress -> serve, all fixed-point BIGINT)
    "pq_adc_topk_trained",
    # round-11: recall on the trained codes vs the data-as-codebook
    # baseline (mean recall@10 703 -> 1172 bp at sf0.001)
    "pq_recall_calibration_trained",
    # round-11: IVF index maintenance — incremental batch assignment
    # to frozen cells + the per-cell occupancy-drift report (the
    # rebalance trigger an index operator watches)
    "ann_ivf_occupancy_drift",
    # round-11: the incremental recipe — history labeled once (the
    # amortized state build), batch labeled via index probes, merged
    # slim mixture; output = the combined one-shot datasheet
    "corpus_recipe_increment",
    # round-12: the WARM increment — state persisted once as snapshot
    # tables (run 1 of the min-of-3 pays the build), so the recorded
    # number is the honest per-ingest cost: read state, label one
    # batch via probes, emit the combined datasheet
    "corpus_recipe_increment_warm",
    # round-12: residual IVFADC (Jégou §IV-A — PQ over x − q1(x) with
    # per-probed-cell query lookup tables) and the controlled
    # raw-vs-residual gain audit on the clustered corpus
    "ann_ivfadc_residual_topk",
    "ivfadc_residual_gain_audit",
    # round-12: the nprobe tuning curve (recall-vs-scanned at {1,2,4})
    # and the drift→retrain maintenance audit (frozen vs one-round
    # retrained pivots on the drifted corpus)
    "ivfadc_nprobe_sweep",
    "ann_ivf_recall_after_drift",
    # round-12: warm-index serving — codes persisted once as a
    # cell-clustered snapshot, each query reads only the probed cells'
    # files (2/16, pytest-asserted) + one broadcast join; min-of-3
    # prices the serve (run 1 pays the index build)
    "ann_ivfadc_warm_serve",
    # round-12: the maintenance loop — ingest one jittered batch into
    # the warm index (frozen cells + frozen codebook, exactly-once
    # append) and serve over the grown index; min-of-3 prices the
    # post-ingest serve (run 1 pays build + ingest)
    "ann_ivfadc_warm_ingest_serve",
    # round-12: compaction — rewrite the two-generation code table as
    # one clustered file set and serve over it (rows provably
    # unchanged: same oracle as the ingest serve)
    "ann_ivfadc_warm_compact_serve",
    # round-12: the nprobe curve re-measured with STRONG (residual)
    # codes — flat recall where raw codes fell (over-probing wasteful
    # vs harmful), completing the tuning-rule pair
    "ivfadc_residual_nprobe_sweep",
    # round-12: batched panel serving — 64 queries answered in ONE
    # scan of the persisted code table (diverse batches defeat file
    # pruning, so batching amortizes the scan instead)
    "ann_ivfadc_warm_panel_serve",
    "ann_ivfadc_warm_serve_dispatch",
    # round-13: the retrain decision row — composes the occupancy-drift
    # and recall-after-drift audits (their cost IS this entry's cost)
    # into the skew-triggered decision an operator acts on
    "ann_ivf_retrain_decision",
    # round-13: near-dup verification served from the persisted gram
    # index — two keyed joins + per-row array_intersect, same oracle
    # as the text-path md5 entry (index verify ≡ text verify, proven)
    "ngram_jaccard_verify_grams_index",
    "ngram_jaccard_verify_warm",
    # round-13: occupancy refreshed from table CDC — history counts
    # from the pinned base version, batch counts from the appended
    # files only (read_snapshot_changes); min-of-3 prices the refresh
    "ann_ivf_occupancy_incremental",
    # round-13: SemDeDup's incremental half — a new embedding batch
    # screened against history inside its centroid block (batch×block
    # pairs only; history-history pairs never form)
    "incremental_semantic_dedup",
    "incremental_semantic_dedup_ivf",
    # round-14: simhash_pairs switched to the JVM expr implementation
    # (its xxhash64 votes replay in SQL -> oracle-exact); price the
    # impl switch on the record
    "simhash_pairs",
    # round-15: the retrain ACTION — occupancy-scaled re-cluster into a
    # new snapshot generation (run 1 pays ingest+retrain; min-of-N
    # prices gen-2 serving), the post-retrain SemDeDup screen (the
    # falsifier's managed-constant side), and the gram table's
    # compaction fold (run 1 pays the rewrite; min-of-N prices verify
    # over the compacted layout)
    "ann_ivf_retrain_apply_serve",
    "incremental_semantic_dedup_ivf_retrained",
    "ngram_jaccard_verify_warm_compact",
]


def checksum_frame(df):
    """The one-row aggregate ``(n, chk)`` over ``df``: its row count and
    the bit_xor of xxhash64 over all of its columns.

    bit_xor over xxhash64(all columns) makes each projection expression
    load-bearing (nothing prunable), is order-insensitive, and cannot
    overflow under ANSI arithmetic. Map-typed columns are serialized via
    to_json first (xxhash64 rejects MapType)."""
    cols = []
    for fld in df.schema.fields:
        c = F.col(fld.name)
        if "map<" in fld.dataType.simpleString():
            c = F.to_json(c)
        cols.append(c)
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("chk")
    )


def force_eval_chk(df) -> tuple[int, int]:
    """Evaluate every column of every row; return (row count, checksum).

    The checksum makes every timing self-verifying: a timing claim about
    a result set that silently changed is worthless, so each record
    carries the checksum next to the timing."""
    n, chk = checksum_frame(df).collect()[0]
    return n, chk or 0


def time_runs(spark, fn, sf_dir, runs, evaluate, construct=contextlib.nullcontext):
    """The one timing loop. Per run: clear the cache, build the entry,
    evaluate it in full and record ``[wall s, construction s, rows,
    checksum]``. Clearing the cache keeps persisted intermediates (LSH
    signatures) from accumulating or flattering later runs.

    ``evaluate`` is :func:`force_eval_chk` or the traced twin
    :meth:`Profile.evaluate`; ``construct`` makes the context wrapped
    around construction. A/B sides run this function's source against
    their own checkout (:func:`_side_runner`), so it uses no name of this
    module but ``time`` and ``contextlib``."""
    out = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with construct():
            df = fn(spark, sf_dir)
        built = time.perf_counter() - t0
        n, chk = evaluate(df)
        out.append([round(time.perf_counter() - t0, 4), round(built, 4), n, chk])
    return out


def time_entries(spark, names, runs, evaluate=force_eval_chk,
                 construct=contextlib.nullcontext):
    """Warm the JVM and parquet footers with one tiny action, then yield
    ``(name, time_runs(...))`` per named entry at ``SF_DIR``, with one
    progress line per entry on stderr."""
    qs = queries()
    qs["q1_pricing_summary"](spark, SF_DIR).count()
    for name in names:
        res = time_runs(spark, qs[name], SF_DIR, runs, evaluate, construct)
        s = sorted(r[0] for r in res)
        print(f"# {name}: min={s[0]:.3f}s med={s[len(s) // 2]:.3f}s "
              f"max={s[-1]:.3f}s rows={res[-1][2]} chk={res[-1][3]}",
              file=sys.stderr, flush=True)
        yield name, res


# ---------------------------------------------------------------------------
# run: one session, optionally traced
# ---------------------------------------------------------------------------


# one executed-plan node per line: tree drawing, an optional codegen
# stage marker "*(n) ", then the operator name
_PLAN_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\) )?([A-Z]\w*)")


def plan_ops(agg) -> dict[str, int]:
    """Each physical operator name in the final executed plan of ``agg``
    with its count: the part of the plan string that
    ``layers.count_exchanges`` reads, so two runs whose tables are equal
    evaluated the same operators."""
    plan = agg._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    ops = Counter(m.group(1) for m in map(_PLAN_NODE.match, final.splitlines()) if m)
    return dict(sorted(ops.items()))


class Profile:
    """The traced run's counters: every timed run is one op of a
    ``layers.SparkTracer`` and ``layers.LayerRecorder``, so the jobs of
    its construction and of its action land in the event-log job groups
    ``pb:<op>:queries.construct`` and ``pb:<op>:exec.action``."""

    def __init__(self, spark) -> None:
        self.tracer = layers.SparkTracer(spark.sparkContext)
        self.rec = layers.LayerRecorder(spark)
        self.op = 0
        self.ops: dict[int, dict[str, int]] = {}  # plan.ops per op
        self.df = None  # the last run's entry frame, for the plan dump
        jvm = spark._jvm
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self._cg0 = (0, 0, 0)

    def _codegen_now(self) -> tuple[int, int, int]:
        """(classes compiled, compile ns, JIT ms) so far in this JVM.
        Every compiled-class cache miss adds one sample to the
        compilation histogram; its reservoir keeps no sum (and whole
        milliseconds), so the seconds come from
        ``CodeGenerator.compileTime``, the nanosecond total of the same
        compiles. The JIT figure is the JVM's own bytecode-to-machine-code
        compile time, summed over its compiler threads."""
        return (self._compiles.getCount(), self._codegen.compileTime(),
                self._jit.getTotalCompilationTime())

    @contextlib.contextmanager
    def construct(self):
        self.op += 1
        self.rec.begin_op(self.op)
        self._cg0 = self._codegen_now()
        with self.tracer.span("queries.construct", self.op):
            self.rec.arm_py4j()
            try:
                yield
            finally:
                self.rec.record(self.op, "queries.py4j_calls", self.rec.disarm_py4j())

    def evaluate(self, df) -> tuple[int, int]:
        with self.tracer.span("exec.action", self.op):
            agg = checksum_frame(df)
            n, chk = agg.collect()[0]
        count, ns, jit_ms = self._codegen_now()
        self.rec.record(self.op, "codegen.compiles", count - self._cg0[0])
        self.rec.record(self.op, "codegen.compile_s", (ns - self._cg0[1]) / 1e9)
        self.rec.record(self.op, "jit.compile_s", (jit_ms - self._cg0[2]) / 1e3)
        self.rec.after_action(self.op, agg)
        self.ops[self.op] = plan_ops(agg)
        self.rec.end_op(self.op)
        self.df = df
        return n, chk or 0


def _summary(res: list) -> dict:
    s = sorted(r[0] for r in res)
    return {"min_s": s[0], "med_s": s[len(s) // 2], "max_s": s[-1],
            "rows": res[-1][2], "chk": res[-1][3]}


def _run_fields(r: list) -> dict:
    return dict(zip(("s", "construct_s", "rows", "chk"), r))


def traced_record(names, runs) -> dict:
    """Time the named entries in one traced session. Per run the record
    holds wall and construction seconds, rows and checksum, and the
    ``layers`` counters under the per-layer names of BENCHMARK.json:
    ``queries.py4j_calls`` during construction, ``catalyst.*`` phase
    seconds and exchanges of the evaluated plan, and
    ``functions.python_udf_s`` (Spark's ``udf.profiler=perf``), plus
    ``codegen.compiles`` and ``codegen.compile_s``: the generated classes
    compiled, and their compile seconds, over construction plus action
    (0 on a warm run whose code is all in the compiled-class cache),
    ``jit.compile_s``, the JVM's JIT compile seconds over the same span
    (the compiler threads keep compiling Spark's and the generated code
    long after the first run), and ``plan.ops``, the operator counts of
    the evaluated plan (:func:`plan_ops`). Under
    ``jobs_by_group`` it holds jobs, tasks, task CPU, input, shuffle and
    spill of the construction's jobs (the eager barriers:
    checkpoints, driver collects) and of the action's jobs."""
    os.makedirs(PLAN_DIR, exist_ok=True)
    timed = {}
    with tempfile.TemporaryDirectory(prefix="bench-events-") as events:
        spark = get_spark(app_name="bench-trace", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
        prof = Profile(spark)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        try:
            for name, res in time_entries(spark, names, runs, prof.evaluate, prof.construct):
                timed[name] = res
                with open(os.path.join(PLAN_DIR, f"{name}.txt"), "w") as fh:
                    fh.write(prof.df._jdf.queryExecution().explainString(mode))
                prof.df = None
        finally:
            prof.rec.close()
            spark.stop()  # flushes the event log
        by_group = layers.read_event_log(events)
    out, op = {}, 0
    for name, res in timed.items():
        runs_out = []
        for r in res:
            op += 1
            run = _run_fields(r)
            run.update((k, round(v, 4)) for k, v in sorted(prof.rec.values[op].items()))
            run["plan.ops"] = prof.ops[op]
            run["jobs_by_group"] = {
                phase: {k: round(v, 4) for k, v in vars(by_group[f"pb:{op}:{phase}"]).items()
                        if k not in ("group", "scan_rows")}
                for phase in ("queries.construct", "exec.action")
                if f"pb:{op}:{phase}" in by_group
            }
            runs_out.append(run)
        out[name] = dict(_summary(res), runs=runs_out)
    return out


def _check_names(ap: argparse.ArgumentParser, names: list[str]) -> None:
    """Refuse names missing from the registry before any Spark process
    starts (argparse exits with status 2)."""
    unknown = sorted(set(names) - set(queries()))
    if unknown:
        ap.error(f"not in the query registry: {', '.join(unknown)}")


def run_cmd(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="bench.py run", description="Time named entries in one session."
    )
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--trace", action="store_true",
                    help="record the layered counters and dump the plans")
    args = ap.parse_args(argv)
    _check_names(ap, args.names)
    if args.trace:
        entries = traced_record(args.names, args.runs)
    else:
        spark = get_spark(app_name="bench-run")
        entries = {
            name: dict(_summary(res), runs=[_run_fields(r) for r in res])
            for name, res in time_entries(spark, args.names, args.runs)
        }
    with open(PROFILE_PATH, "w") as fh:
        json.dump({"sf_dir": SF_DIR, "traced": args.trace, "entries": entries}, fh, indent=1)
        fh.write("\n")
    total = sum(e["min_s"] for e in entries.values())
    print(f"# total (min): {total:.3f}s over {len(entries)} entries -> {PROFILE_PATH}")
    return 0


# ---------------------------------------------------------------------------
# ab: two sides, interleaved round by round
# ---------------------------------------------------------------------------


def _side_runner() -> str:
    """The program of one A/B side: the source of :func:`time_runs` and
    :func:`time_entries` over the side's own package and its own
    ``bench.force_eval_chk`` (a --ref side never imports this file)."""
    return (
        "import contextlib, json, os, sys, time\n"
        "sys.path.insert(0, os.getcwd())\n"
        "from __spark_entry__ import queries\n"
        "from bench import force_eval_chk\n"
        "from opendata_gov_lt_mysql_import_spark.session import get_spark\n"
        + inspect.getsource(time_runs)
        + inspect.getsource(time_entries)
        + "names, SF_DIR = sys.argv[1].split(','), sys.argv[2]\n"
        "spark = get_spark(app_name='bench-ab', extra_conf=json.loads(sys.argv[3]))\n"
        f"out = dict(time_entries(spark, names, {CALLS}))\n"
        "print('@@RESULT@@' + json.dumps(out))\n"
    )


def _run_side(side: dict, names: list[str]) -> dict | str:
    """One round of one side in a fresh interpreter: ``{name: [[s,
    construction s, rows, chk], ...]}``, one record per call in the
    side's session, or why the side failed."""
    env = dict(os.environ, PYTHONPATH=side["tree"])
    if side["cpus"]:
        env["SPARK_GRAFT_CPUS"] = str(side["cpus"])
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _side_runner(), ",".join(names), SF_DIR,
             json.dumps(side["conf"])],
            cwd=side["tree"], env=env, capture_output=True, text=True,
            timeout=SIDE_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return f"timed out after {SIDE_TIMEOUT_S} s"
    for line in proc.stdout.splitlines():
        if line.startswith("@@RESULT@@"):
            return json.loads(line[len("@@RESULT@@"):])
    return f"exit {proc.returncode}: {proc.stderr[-2000:]}"


def ab_record(names: list[str], rounds: list[dict], sides: dict) -> dict:
    """The A/B record. ``rounds`` holds one ``{"a": ..., "b": ...}`` per
    round, each side a ``_run_side`` result (per entry, the run records
    of its calls) or the reason it failed.

    Completed sides are kept; failed ones are listed under
    ``failed_sides``. Per entry: each side's minimum wall time per round
    (``a_s``/``b_s``), its first, cold call per round
    (``a_cold_s``/``b_cold_s``), its overall minimum, ``ratio_b_over_a``
    of the minima and a verdict — ``noise-band`` inside
    :data:`NOISE_BAND`, else ``a-faster`` or ``b-faster`` — unless the
    calls disagree on (rows, checksum), which is ``checksum-mismatch``
    whatever the timings say."""
    failed = [
        {"round": i, "side": k, "error": r[k]}
        for i, r in enumerate(rounds) for k in ("a", "b") if isinstance(r[k], str)
    ]
    entries = {}
    for name in names:
        got = {k: [r[k][name] for r in rounds if isinstance(r[k], dict)] for k in ("a", "b")}
        per_round = {k: [min(x[0] for x in calls) for calls in v] for k, v in got.items()}
        mins = {k: min(v, default=None) for k, v in per_round.items()}
        ratio = round(mins["b"] / mins["a"], 3) if mins["a"] and mins["b"] else None
        results = sorted({(x[2], x[3]) for v in got.values() for calls in v for x in calls})
        if len(results) > 1:
            verdict = "checksum-mismatch"
        elif ratio is None:
            verdict = "incomplete"
        elif ratio > NOISE_BAND:
            verdict = "a-faster"
        elif ratio < 1 / NOISE_BAND:
            verdict = "b-faster"
        else:
            verdict = "noise-band"
        entries[name] = {
            "a_s": per_round["a"], "b_s": per_round["b"],
            "a_cold_s": [calls[0][0] for calls in got["a"]],
            "b_cold_s": [calls[0][0] for calls in got["b"]],
            "a_min": mins["a"], "b_min": mins["b"], "ratio_b_over_a": ratio,
            "rows_chk": [list(x) for x in results], "verdict": verdict,
        }
    return {
        "protocol": "interleaved rounds, the side that goes first alternating, "
                    f"one subprocess per side per round timing {CALLS} calls per "
                    "entry, minima compared, full-evaluation checksums",
        "sf_dir": SF_DIR,
        "sides": sides,
        "rounds": len(rounds),
        "noise_band": NOISE_BAND,
        "failed_sides": failed,
        "entries": entries,
    }


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=HERE, capture_output=True,
                          text=True, check=True).stdout.strip()


def ab_cmd(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="bench.py ab",
        description="Interleaved A/B: this checkout (A) against side B.",
    )
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--runs", type=int, default=3, help="rounds")
    b_side = ap.add_mutually_exclusive_group(required=True)
    b_side.add_argument("--ref", metavar="COMMIT", help="B runs this commit's tree")
    b_side.add_argument("--cpus", type=int, metavar="N", help="B runs at local[N]")
    b_side.add_argument("--conf", action="append", metavar="K=V",
                        help="B runs with this extra Spark conf (repeatable)")
    args = ap.parse_args(argv)
    _check_names(ap, args.names)
    conf = {}
    for kv in args.conf or ():
        k, _, v = kv.partition("=")
        if not k or not v:
            ap.error(f"--conf expects K=V, got {kv!r}")
        conf[k] = v
    # "<sha>-dirty" when the checkout has uncommitted changes
    head = _git("describe", "--always", "--dirty", "--abbrev=40", "--exclude=*")
    a = {"commit": head, "tree": HERE, "conf": {},
         "cpus": os.environ.get("SPARK_GRAFT_CPUS")}
    b = dict(a, conf=conf, cpus=args.cpus or a["cpus"])
    with tempfile.TemporaryDirectory(prefix="bench-ab-") as tree:
        if args.ref:
            b.update(commit=_git("rev-parse", "--verify", args.ref + "^{commit}"), tree=tree)
            archive = subprocess.run(["git", "archive", b["commit"]], cwd=HERE,
                                     capture_output=True, check=True).stdout
            with tarfile.open(fileobj=io.BytesIO(archive)) as tf:
                tf.extractall(tree, filter="data")
        rounds = []
        for r in range(args.runs):
            rounds.append({})
            # alternate which side goes first, so a load swing mid-round
            # hits both sides alike
            for key in ("a", "b") if r % 2 == 0 else ("b", "a"):
                rounds[-1][key] = res = _run_side(a if key == "a" else b, args.names)
                print(f"# round {r + 1}/{args.runs} side {key}: "
                      + (res if isinstance(res, str) else
                         ", ".join(f"{n}={min(x[0] for x in v):.3f}s (cold {v[0][0]:.3f}s)"
                                   for n, v in res.items())),
                      file=sys.stderr, flush=True)
    sides = {k: {f: s[f] for f in ("commit", "cpus", "conf")} for k, s in (("a", a), ("b", b))}
    record = ab_record(args.names, rounds, sides)
    with open(COMPARE_PATH, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    for name, e in record["entries"].items():
        print(f"{name}: a_min={e['a_min']} b_min={e['b_min']} "
              f"ratio_b_over_a={e['ratio_b_over_a']} {e['verdict']}")
    print(f"# {len(record['failed_sides'])} failed sides -> {COMPARE_PATH}")
    return 0


# ---------------------------------------------------------------------------
# the headline record
# ---------------------------------------------------------------------------

def adjudication_gate(
    deltas: dict, argv: list[str]
) -> tuple[bool, str | None]:
    """(refuse_commit, adjudication_note) for a --commit run carrying
    cross-round >1.3x deltas. Round-13 postmortem: the end-of-round
    --commit run carried 51 un-triaged flags and silently became the
    on-record number; now a flagged run refuses to replace
    BENCH_COMMITTED.json unless --adjudicated=<note> attests the
    interleaved triage (the note lands in the record itself). A bare
    --adjudicated= (empty note) does NOT count as an attestation."""
    note = next(
        (
            a.split("=", 1)[1]
            for a in argv
            if a.startswith("--adjudicated=")
        ),
        None,
    )
    if not note:
        note = None
    return (bool(deltas) and note is None, note)


def _prev_round_committed(here: str) -> tuple[str | None, dict]:
    """(commit sha, committed per-query timings) of BENCH_COMMITTED.json
    as of the PREVIOUS round boundary — the most recent driver
    round-artifact commit (message "round N: ..."). Round 11's
    cross-round adjudication drifted because BENCH_COMPARE.json was run
    against an intra-round ref; anchoring the delta list to the round
    boundary commit makes the adjudication target non-negotiable
    (round-11 verdict item 3)."""
    import re
    import subprocess

    try:
        log = subprocess.run(
            ["git", "log", "--format=%H %s", "-n", "500"],
            capture_output=True, text=True, cwd=here, check=True,
        ).stdout
        sha = None
        # Anchor ONLY on driver round-boundary commits. The driver's
        # convention is exact and lowercase: "round N: verdict/..." or
        # "round N: end-of-round snapshot (...)". Builder commits in the
        # history start with "Round 11:"/"Round-12 bench record:" and a
        # loose `^round[ -]?\d+` (or even a colon-only tightening) would
        # re-anchor the cross-round audit to an intra-round commit
        # (round-13 advisory, bench.py:327).
        round_re = re.compile(r"^round \d+: (verdict|end-of-round)")
        for line in log.splitlines():
            parts = line.split(" ", 1)
            if len(parts) == 2 and round_re.match(parts[1]):
                sha = parts[0]
                break
        if sha is None:
            print(
                "bench: no round-boundary commit found in the last 500 "
                "— cross-round delta audit disabled",
                file=sys.stderr,
            )
            return None, {}
        rec = subprocess.run(
            ["git", "show", f"{sha}:BENCH_COMMITTED.json"],
            capture_output=True, text=True, cwd=here, check=True,
        ).stdout
        return sha, json.loads(rec).get("queries", {})
    except (subprocess.CalledProcessError, OSError, json.JSONDecodeError,
            ValueError):
        return None, {}


def headline(argv: list[str]) -> int:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # best of three runs per query: single-shot wall clock on a shared
    # box swings +/-50% with background load, and even min-of-2 left
    # sub-second entries jittering past a 20% band run-to-run; min-of-3
    # reports the query's actual cost for ~17s extra wall.
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name, res in time_entries(spark, HEADLINE, CALLS):
        runs = sorted(r[0] for r in res)
        timings[name] = runs[0]
        # min/median/max across the 3 runs: a wide max/min ratio marks a
        # noisy entry (shared-box background load), so a regressed *min*
        # with tight spread is a real regression and a regressed min with
        # huge spread is measurement noise — distinguishable at a glance
        spread[name] = {"min": runs[0], "med": runs[1], "max": runs[2]}

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full record (timings + spread + scaling appendix) outgrew the
    # driver's stdout tail window in rounds 5 AND 6 (BENCH_r0{5,6}.json
    # parsed:null — the round-5 "compact" line still carried the 81-entry
    # per-query map: 2,915 chars vs the driver's 2,000-char tail). Split
    # the record for real this time: the FULL JSON (with the per-query
    # map) is written to BENCH_LOCAL.json (gitignored; --commit copies it
    # to BENCH_COMMITTED.json);
    # stdout carries ONE compact line — metric/value/unit/n/sf +
    # slowest-10 only, ~700 chars — small enough to survive the window.
    full = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": sf_val,
    }
    # SCALING.json holds the committed data-scale, history-scale,
    # serve-crossover and core-count results of earlier rounds (git
    # history keeps the harnesses that measured them); embed it so the
    # full record carries it.
    appendix = os.path.join(HERE, "SCALING.json")
    if os.path.exists(appendix):
        try:
            with open(appendix) as fh:
                full["scaling_appendix"] = json.load(fh)
        except (OSError, json.JSONDecodeError):
            pass
    # Record split (round-10, ends the four-round stale-record loop):
    # BENCH_LOCAL.json is the MACHINE-RUN artifact — rewritten by every
    # invocation, including the driver's own post-final-commit run, so it
    # can never be committed "fresh" and is .gitignored like
    # PROGRESS.jsonl/LEAKCHECK.json. The COMMITTED record lives under a
    # distinct name, BENCH_COMMITTED.json, refreshed only on an explicit
    # `--commit` flag so the builder controls exactly what goes into
    # version control and `git status` is clean at round end by
    # construction.
    local_path = os.path.join(HERE, "BENCH_LOCAL.json")
    # A swallowed write failure must not masquerade as a fresh record:
    # full_record is the filename only when the write SUCCEEDED, else null
    # so consumers can detect the miss (round-6 advisory).
    full_record: str | None = "BENCH_LOCAL.json"
    try:
        with open(local_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        full_record = None
    committed_path = os.path.join(HERE, "BENCH_COMMITTED.json")
    if "--commit" in argv:
        # Cross-round delta list, auto-emitted INTO the committed record
        # so the >1.3x entries vs the PREVIOUS ROUND's committed numbers
        # are on the record at commit time with a pinned ref — each one
        # is a `bench.py ab --ref` adjudication TODO (interleaved A/B
        # on the same box; raw cross-day numbers are not verdicts).
        prev_sha, prev_q = _prev_round_committed(HERE)
        if not prev_q:
            # A missing anchor silently disables the ENTIRE cross-round
            # audit (delta list + adjudication gate) — the exact class
            # of failure the gate exists for, re-entered through the
            # back door (e.g. a restyled boundary subject breaking the
            # matcher). Refuse unless explicitly attested, and put the
            # attestation on the record.
            refused, adj_note = adjudication_gate(
                {"<no-anchor>": True}, argv
            )
            if refused:
                print(
                    "# REFUSED: no previous-round committed baseline "
                    "found (boundary-subject matcher came up empty) — "
                    "the cross-round delta audit cannot run. Fix the "
                    "anchor, or re-run with --adjudicated='<why no "
                    "baseline exists>'.",
                    file=sys.stderr,
                )
                return 2
            full["deltas_vs_prev_round"] = {
                "ref_commit": None,
                "band": NOISE_BAND,
                "entries": {},
                "adjudication": adj_note,
            }
        if prev_q:
            deltas = {}
            for name, now in timings.items():
                was = prev_q.get(name)
                if was and was > 0 and now / was > NOISE_BAND:
                    deltas[name] = {
                        "prev": was, "now": now,
                        "ratio": round(now / was, 2),
                    }
            full["deltas_vs_prev_round"] = {
                "ref_commit": prev_sha,
                "band": NOISE_BAND,
                "entries": deltas,
            }
            if deltas:
                print(
                    f"# NOTE: {len(deltas)} entries >1.3x vs previous "
                    f"round ({prev_sha[:8]}): {sorted(deltas)} — "
                    "adjudicate with python bench.py ab "
                    + " ".join(sorted(deltas))
                    + f" --ref {prev_sha[:8]}",
                    file=sys.stderr,
                )
            # Round-13 postmortem (VERDICT r13 "what's wrong" item 2):
            # the end-of-round --commit run carried 51 un-triaged >1.3x
            # flags — a busy-box record that contradicted the README by
            # ~20% — and nothing stopped it from becoming the on-record
            # number. Structural fix: a flagged run REFUSES to replace
            # the committed record unless the caller attests the
            # adjudication with --adjudicated=<note>; the note is
            # embedded in the record so the attestation is itself on
            # the record. Un-flagged runs commit as before.
            refused, adj_note = adjudication_gate(deltas, argv)
            if refused:
                print(
                    f"# REFUSED: {len(deltas)} un-adjudicated >1.3x "
                    "deltas — BENCH_COMMITTED.json left untouched. "
                    "Triaging via the interleaved protocol, then re-run "
                    "with --adjudicated='<summary of the triage>'.",
                    file=sys.stderr,
                )
                return 2
            if deltas:
                full["deltas_vs_prev_round"]["adjudication"] = adj_note
        with open(committed_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    else:
        # Structural staleness only: warn when the committed record's
        # ENTRY SET differs from this run's (new/removed headline
        # queries that never made it into the committed record). Timing
        # drift between runs is inherent to a shared box and must NOT
        # warn — that was the unwinnable loop.
        try:
            with open(committed_path) as fh:
                committed_names = set(json.load(fh).get("queries", {}))
            if committed_names != set(timings):
                delta = sorted(set(timings) ^ committed_names)
                print(
                    "# WARNING: BENCH_COMMITTED.json entry set differs "
                    f"from this run ({delta[:8]}...) — rerun "
                    "`python bench.py --commit` and commit the result",
                    file=sys.stderr,
                )
        except (OSError, json.JSONDecodeError):
            print(
                "# WARNING: no readable BENCH_COMMITTED.json — run "
                "`python bench.py --commit` once and commit it",
                file=sys.stderr,
            )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "slowest_10": slowest,
        "sf": sf_val,
        "full_record": full_record,
    }
    line = json.dumps(out)
    # Driver tail window is 2,000 chars; the line must fit WHOLE.
    assert len(line) < 1900, f"stdout record too long: {len(line)}"
    print(line)
    return 0


def main(argv: list[str]) -> int:
    if argv[1:2] == ["run"]:
        return run_cmd(argv[2:])
    if argv[1:2] == ["ab"]:
        return ab_cmd(argv[2:])
    return headline(argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv))
