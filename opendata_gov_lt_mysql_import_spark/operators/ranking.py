"""Corpus ranking / data-selection scoring: Okapi BM25 and DSIR, and
``argbest``, the best-row-per-group primitive the ANN, PQ, dedup and
span-keeper operators share.

Beyond-reference LLM-pipeline surface (no counterpart in the reference
harvester, odgovlt.py — cited per repo convention): retrieval-style
ranking over the documents table and importance weighting for training
-data selection.

Both operators apply the repo's fixed-point discipline (see
operators/graph.py pagerank) to stay ORACLE-EXACT despite using ``ln``:

* The only transcendental (``ln``) is evaluated on a TINY frame — once
  per query term (BM25 idf) or once per hash bucket (DSIR log-ratio) —
  and immediately floored into a BIGINT at 1e9 scale. A 1-ulp libm
  divergence between the JVM and DuckDB flips the floor only when the
  scaled value sits within ~1e-7 of an integer boundary; with <=256
  such evaluations (vs one per ROW for a naive float score) the
  exposure is negligible, and all per-row arithmetic downstream is
  either exact BIGINT (DSIR) or identically-ordered IEEE ops (BM25's
  rational saturation term), so partition order cannot perturb results.
* Sums that cross rows are INTEGER sums (DSIR: count x log-ratio-fp),
  immune to float addition order — the exact hazard the pagerank
  docstring records (a float sum flipped its 4th decimal purely by
  partitioning).

Scale shape at 100 TB:

* BM25: one corpus pass computes (N, sum_dl, df per term) as ONE
  partial-aggregated row; per-doc tf/dl are array ops on the tokens
  column (no explode, no shuffle); the 1-row stats frame is
  cross-joined (broadcast nested loop over literally one row — the
  tfidf_top_keywords idiom, whitelisted in tools/plan_lint.py).
* DSIR: the token stream collapses onto a FIXED 256-bucket key space
  (map-side combine, constant-sized shuffle — the count-min sketch
  argument, operators/sketches.py), the 256-row log-ratio table is
  broadcast back, and the per-doc reduction shuffles on doc_id once.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textanalysis import tokens

__all__ = ["argbest", "bm25_topk", "dsir_importance_weights", "DSIR_WIDTH"]

#: DSIR hashed-feature space: first two hex nibbles of md5(token),
#: fixed width 256 (the count-min sketch bucket idiom, so the DuckDB
#: oracle can rebuild buckets with exact nibble arithmetic).
DSIR_WIDTH = 256

#: floor(ln(x) * IDF_SCALE) — the fixed-point scale shared by both
#: operators and mirrored literally in the SQL oracles.
LOG_SCALE = 10**9


def _bucket(tok: Column) -> Column:
    return F.conv(F.substring(F.md5(tok), 1, 2), 16, 10).cast("int")


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 (Robertson & Zaragoza 2009) top-``k`` documents for a
    fixed bag of query ``terms``; returns (doc_id, score_e6) with
    score_e6 = floor(score * 1e6) as BIGINT, ranked by
    (score_e6 DESC, doc_id) so ties are deterministic.

    Exactness: idf_t = floor(ln((N - df_t + 0.5)/(df_t + 0.5) + 1)
    * 1e9) is fixed-point per TERM (module docstring); the per-doc
    term score is then (idf_fp/1e9) * tf*(k1+1) / (tf + k1*(1 - b +
    b*dl*N/sum_dl)) — a fixed-order chain of correctly-rounded IEEE
    ops on exactly-representable integer inputs — and the <=|terms|
    term scores are added in ONE literal expression (t1 + t2 + ...),
    not an unordered SUM, so the result is bit-identical across
    engines and partitionings before the final floor.

    The defaults are deliberately DYADIC (k1=1.5, b=0.75): k1+1.0,
    1.0-b and k1 itself are then exactly representable, so the
    Python-side constant folding here and the decimal literals in the
    SQL oracle (2.5, 0.25, 1.5) denote the same doubles.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = tokens(F.col(text_col))

    def _tf(term: str) -> Column:
        # F.filter dispatches on lambda ARITY (2 args = element,index),
        # so the term must be closed over, not passed as a default arg;
        # a literal capture is constant-folded (no HOF-recapture cost).
        lit = F.lit(term)
        return F.size(F.filter(toks, lambda x: x == lit)).cast("long")

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    # consumed twice (corpus-stats row + scoring) and the tokenize +
    # per-term array filters are the expensive part; eager
    # localCheckpoint, not lazy persist — concurrent stages race a lazy
    # cache and recompute the lineage (the AQE hazard in the verify
    # skill / dedup.py sigs note). The checkpointed frame is just
    # (id, dl, tf...) integers, tiny next to the text it came from.
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("dl"),
        *tf_cols,
    ).localCheckpoint(eager=True)
    # ONE partially-aggregated row: corpus size, total length, per-term
    # document frequencies, and the fixed-point idfs derived from them.
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long"))
            .cast("long")
            .alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).select(
        "n_docs",
        "sum_dl",
        *[
            F.floor(
                F.log(
                    (
                        F.col("n_docs").cast("double")
                        - F.col(f"df_{i}").cast("double")
                        + F.lit(0.5)
                    )
                    / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(float(LOG_SCALE))
            )
            .cast("long")
            .alias(f"idf_fp_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        dl = F.col("dl").cast("double")
        idf = F.col(f"idf_fp_{i}").cast("double") / F.lit(float(LOG_SCALE))
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b)
            * dl
            * F.col("n_docs").cast("double")
            / F.col("sum_dl").cast("double")
        )
        return idf * (tf * F.lit(k1 + 1.0)) / denom

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    return (
        scored.select(
            "doc_id",
            F.floor(score * F.lit(1e6)).cast("long").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(k)
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): every document is
    scored by how much its hashed-unigram profile resembles the TARGET
    slice (rows where ``target_pred`` holds) relative to the raw
    corpus; returns (doc_id, dsir_fp) for every document, dsir_fp =
    sum over buckets of count_b(doc) * floor(ln(p_hat_target(b) /
    p_hat_raw(b)) * 1e9) — an exact BIGINT.

    Probabilities are add-one smoothed over the fixed 256-bucket space:
    p_hat_target(b) = (n_target_b + 1)/(N_target + 256) and likewise
    for raw; the ratio is evaluated as ((n_t+1)*(N_r+256)) /
    ((n_r+1)*(N_t+256)) in double (exact products below 2^53, one
    correctly-rounded division) before the single fixed-point ``ln``
    per bucket. Downstream is pure integer arithmetic — see module
    docstring for why this survives partition-order nondeterminism.
    """
    tok_stream = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("boolean").alias("is_target"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc_id", "is_target", _bucket(F.col("tok")).alias("bucket"))
    # ONE pass over the exploded stream: reduce straight to per-doc
    # bucket counts (docs x <=256 rows; eagerly checkpointed — it feeds
    # both the global bucket stats and the final scoring join, and a
    # lazy persist would let those stages race and re-run the explode;
    # is_target rides along as a grouping key it is functionally
    # dependent on)
    per_doc_bucket = (
        tok_stream.groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    # fixed 256-key aggregation — collapses map-side (sketches.py note)
    bstats = per_doc_bucket.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_t"),
        F.sum("c").cast("long").alias("n_r"),
    )
    totals = bstats.agg(
        F.sum("n_t").cast("long").alias("big_nt"),
        F.sum("n_r").cast("long").alias("big_nr"),
    )
    lr = (
        bstats.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.col("n_t").cast("double") + F.lit(1.0))
                        * (
                            F.col("big_nr").cast("double")
                            + F.lit(float(DSIR_WIDTH))
                        )
                    )
                    / (
                        (F.col("n_r").cast("double") + F.lit(1.0))
                        * (
                            F.col("big_nt").cast("double")
                            + F.lit(float(DSIR_WIDTH))
                        )
                    )
                )
                * F.lit(float(LOG_SCALE))
            )
            .cast("long")
            .alias("lr_fp"),
        )
    )
    scored = per_doc_bucket.join(F.broadcast(lr), "bucket").groupBy(
        "doc_id"
    ).agg(F.sum(F.col("c") * F.col("lr_fp")).cast("long").alias("dsir_fp"))
    # docs with EMPTY text have no token rows — they still get a score
    # (zero: the empty profile is identical under both distributions)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("dsir_fp", F.lit(0).cast("long")).alias("dsir_fp")
        )
    )


def argbest(
    df: DataFrame,
    by: str | Sequence[str],
    score: str,
    tie: str,
    largest: bool = False,
    carry: Sequence[str] = (),
    aggs: Mapping[str, Column] | None = None,
    tie_as: str | None = None,
    score_as: str | None = None,
) -> DataFrame:
    """One row per group of ``by``: the row with the smallest ``score``
    (the largest with ``largest``), ties broken by the smallest ``tie``.

    Returns ``(*by, tie, [score], *carry, *aggs)``: ``tie`` is renamed
    ``tie_as`` when given, ``score`` is kept only when ``score_as`` names
    it, ``carry`` columns ride along from the chosen row, and ``aggs``
    (name -> aggregate Column) are computed over the whole group in the
    same aggregate. Builds Column expressions only (no schema lookup).

    The choice is ``F.min(struct(score, tie, *carry))``, or
    ``F.max(struct(score, -tie, *carry))`` with the tie negated back on
    output, and equals ``row_number() OVER (PARTITION BY by ORDER BY
    score ASC|DESC, tie ASC) = 1``:

    * Spark compares structs field by field, left to right, with the
      ordering its sort uses for each field type, so the aggregate's
      winner is the first row of that lexicographic order.
    * Negating an integral ``tie`` is exact and reverses its order, so
      under ``max`` the smallest tie wins (``tie`` must be integral and
      never the type's minimum value).
    * NULL: a NULL field compares below every value, which is where
      ``ASC`` (NULLS FIRST) and ``DESC`` (NULLS LAST) put it, so a NULL
      score wins under ``min`` and loses under ``max`` exactly as the
      window's first row does. ``tie`` must be non-NULL: ``-NULL`` is
      NULL, so under ``max`` a NULL tie would lose where ``ASC`` puts it
      first.
    * NaN: Spark orders NaN above +Infinity and equal to itself, in
      struct comparison and in sort alike, so a NaN score wins under
      ``max``/``DESC`` and loses under ``min``/``ASC``; ``-0.0`` and
      ``0.0`` compare equal in both, and the tie decides.
    * ``(score, tie)`` must be unique within a group (ids are), or the
      window's pick among equal rows is arbitrary while the aggregate's
      is decided by ``carry``. ``carry`` columns sit inside the
      comparison struct, so they must be of orderable types (no maps).

    Unlike the window, which shuffles and sorts every candidate row,
    the aggregate is partial: the map side folds each partition's
    candidates to one row per group before the exchange."""
    by = [by] if isinstance(by, str) else list(by)
    aggs = aggs or {}
    if largest:
        best = F.max(F.struct(score, (-F.col(tie)).alias(tie), *carry))
        tie_col = -F.col(f"_m.{tie}")
    else:
        best = F.min(F.struct(score, tie, *carry))
        tie_col = F.col(f"_m.{tie}")
    return (
        df.groupBy(*by)
        .agg(best.alias("_m"), *[c.alias(n) for n, c in aggs.items()])
        .select(
            *by,
            tie_col.alias(tie_as or tie),
            *([F.col(f"_m.{score}").alias(score_as)] if score_as else []),
            *[F.col(f"_m.{c}").alias(c) for c in carry],
            *aggs,
        )
    )
