"""Exact substring (duplicated-span) deduplication.

Cross-document duplicated-span detection at fixed token granularity, the
ExactSubstr method of Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better"), re-expressed relationally: instead of a suffix
array (their single-node implementation), every k-token sliding window is
fingerprinted (md5 — the repo's engine-portable hash idiom) and duplicated
spans fall out of ONE shuffle grouping on the window hash. A window that
occurs in >= ``min_docs`` distinct documents is a duplicated span; the
removal transform excises every token covered by a duplicated window
except in the span's globally-first occurrence (lexicographic (doc, pos)),
so exactly one copy of each duplicated span survives the corpus.

Scale shape (100 TB): window fingerprinting is a map-only projection per
document (no shuffle); the explode to (doc, pos, fp) multiplies rows by
~tokens-per-doc but each row is a fixed-width (id, long, 32-char) triple —
far narrower than the text; duplicate detection + first-occurrence ranking
share ONE hash partitioning on fp (window functions over the same key);
coverage union is one groupBy on doc id. No all-pairs stage anywhere —
cost is linear in total windows, exactly the suffix-array method's output
complexity without its global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import argbest
from .textanalysis import tokens

__all__ = [
    "span_fingerprints",
    "duplicated_spans",
    "duplicated_span_intervals",
    "remove_duplicated_spans",
    "incremental_span_dedup",
]


def _window_structs(toks: Column, k: int) -> Column:
    """Array of (pos, fp) for every k-token sliding window of a
    MATERIALIZED token-array column; empty for docs shorter than k
    tokens. 1-based pos (matches SQL engines' list indexing so the
    oracle needs no off-by-one shims).

    ``toks`` must be a bound column, not a tokens(text) expression: the
    transform lambda references it per window, and a captured
    expression subtree is RE-EVALUATED per element (the README's
    HOF-recapture trap — re-splitting the text once per window turned
    the round-7 bigram stream 14x slower before the same fix)."""
    n = F.size(toks)
    wins = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(toks, i, k))).alias("fp"),
        ),
    )
    # guard BEFORE sequence(): Spark's sequence(1, m) with m < 1 infers a
    # NEGATIVE step and yields a descending range, not an empty one
    return F.when(n >= k, wins).otherwise(
        F.array().cast("array<struct<pos:bigint,fp:string>>")
    )


def span_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 50
) -> DataFrame:
    """(id, pos, fp) for every k-token sliding window of every document.

    Map-only until the explode; each output row is fixed-width, so the
    downstream shuffle on fp moves hashes, never text. The token array
    is materialized in its own projection BEFORE the window transform
    so the per-window lambda slices a bound array instead of
    re-running the split (HOF-recapture trap, see _window_structs)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    t = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    return (
        t.select(
            "id",
            F.explode(_window_structs(F.col("_toks"), k)).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), F.col("w.fp").alias("fp"))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Spans (k-token windows) duplicated across >= min_docs documents.

    Returns (fp, n_docs, n_occ, keeper_id, keeper_pos): occurrence
    counts plus the span's globally-first occurrence — the copy the
    removal transform retains: the ``argbest`` row by (id, pos). ONE
    shuffle on fp."""
    w = span_fingerprints(df, text_col, id_col, k)
    return (
        argbest(
            w,
            "fp",
            "id",
            "pos",
            aggs={
                "n_docs": F.countDistinct("id"),
                "n_occ": F.count(F.lit(1)),
            },
            tie_as="keeper_pos",
            score_as="keeper_id",
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("fp", "n_docs", "n_occ", "keeper_id", "keeper_pos")
    )


def duplicated_span_intervals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated regions per document: overlapping/adjacent
    duplicated k-token windows merged into intervals (gaps-and-islands)
    — the span shape Lee et al. 2022 actually report (a 300-token
    boilerplate block is one region, not 251 overlapping windows).
    Returns (id, start_pos, end_pos, n_windows), 1-based inclusive
    token positions, covering EVERY occurrence (keepers included —
    this is the reporting view; the removal transform handles keeper
    retention).

    Scale shape: duplicated-window detection is the fp shuffle; the
    merge is two window functions over (id, pos) — a running max of
    interval ends marks gap starts, a running sum of gap marks numbers
    the islands — then one groupBy (id, island). All three stages share
    the id partitioning after the fp stage."""
    w = span_fingerprints(df, text_col, id_col, k)
    win_fp = Window.partitionBy("fp")
    dup = (
        w.select(
            "id",
            "pos",
            F.size(F.collect_set("id").over(win_fp)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("id", "pos")
    )
    ordered = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + F.lit(k - 1)).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    gapped = dup.select(
        "id",
        "pos",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("gap"),
    )
    islands = gapped.select(
        "id",
        "pos",
        F.sum("gap").over(ordered).alias("island"),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("end_pos"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("id", "start_pos", "end_pos", "n_windows")
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Span-removal transform: every token covered by a cross-document
    duplicated window is excised, EXCEPT in the window's globally-first
    occurrence — one copy of each duplicated span survives (Lee et al.
    2022 §3.1 semantics). Returns (id, text, n_removed) for EVERY input
    document; untouched docs come back whitespace-normalized (tokens
    rejoined with single spaces), which keeps the output a pure function
    of the token sequence on any engine.

    A kept (first-occurrence) window's tokens can still be removed if a
    DIFFERENT duplicated span's non-first occurrence overlaps them —
    coverage is a per-token union, deterministic on both engines.

    Shuffles: one hash partitioning on fp (the n_docs count and the
    first-occurrence rank are window functions over the SAME key, so
    Catalyst plans a single exchange), one groupBy on doc id for the
    coverage union, one join back to the corpus. Membership testing at
    reassembly is per-row expression work: O(tokens * covered) per doc,
    bounded because chunking upstream bounds document length."""
    w = span_fingerprints(df, text_col, id_col, k)
    win_fp = Window.partitionBy("fp")
    win_rank = Window.partitionBy("fp").orderBy("id", "pos")
    marked = w.select(
        "id",
        "pos",
        F.size(F.collect_set("id").over(win_fp)).alias("n_docs"),
        F.row_number().over(win_rank).alias("rn"),
    )
    removable = marked.filter(
        (F.col("n_docs") >= min_docs) & (F.col("rn") > 1)
    )
    cov = (
        removable.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("cp")).alias("cov"))
    )
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, i: ~F.array_contains(
            F.col("cov"), (i + F.lit(1)).cast("long")
        ),
    )
    # cov's id is renamed before the join so a caller whose id_col is
    # literally 'id' doesn't hit an ambiguous-reference AnalysisException.
    cov = cov.withColumnRenamed("id", "_cov_id")
    out = df.join(cov, df[id_col] == cov["_cov_id"], "left").select(
        df[id_col].alias("id"),
        F.when(F.col("cov").isNull(), F.concat_ws(" ", toks))
        .otherwise(F.concat_ws(" ", kept))
        .alias("text"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
    )
    return out


def incremental_span_dedup(
    new_df: DataFrame,
    history_index: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
) -> DataFrame:
    """Daily-increment twin of the span family (mirroring
    ``incremental_minhash_neardup``): a new ingest batch's window
    fingerprints probe the HISTORY's persisted fingerprint index
    (``span_fingerprints`` of the corpus so far — what a production
    pipeline stores bucketed by fp), flagging per new document how much
    of it already exists verbatim in the corpus.

    Returns (id, n_windows, n_dup_windows, n_covered): total windows,
    windows colliding with history, and the union token coverage of the
    colliding windows — all integers, so the policy threshold
    (n_covered / doc length) is the caller's knob and the op itself is
    engine-exact. Documents shorter than k tokens have no windows and
    drop out (same rule as the one-shot detector).

    Scale shape: the BATCH is fingerprinted once (map-only + explode);
    the history probe is a LEFT SEMI join on fp — semi, so history-side
    fp multiplicity can't fan out batch rows, and with the batch as the
    small side AQE broadcasts it while the 100 TB index streams
    map-side with NO shuffle (pre-bucketed by fp it prunes further).
    History text is never read. The batch fingerprint frame feeds both
    the totals and the probe, and the hit frame feeds both counters —
    each is pinned with an eager localCheckpoint (AQE re-runs
    multi-consumer lineage otherwise; re-running the index probe twice
    is the expensive half)."""
    bw = span_fingerprints(new_df, text_col, id_col, k).localCheckpoint(
        eager=True
    )
    totals = bw.groupBy("id").agg(F.count(F.lit(1)).alias("n_windows"))
    hits = bw.join(
        history_index.select("fp"), "fp", "left_semi"
    ).localCheckpoint(eager=True)
    per = hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    cov = (
        hits.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .groupBy("id")
        .agg(F.countDistinct("cp").alias("n_covered"))
    )
    return (
        totals.join(per, "id", "left")
        .join(cov, "id", "left")
        .select(
            "id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
        )
    )
