"""BPE merge learning — the tokenizer-training step of an LLM data
pipeline (beyond-reference surface; generalizes the reference's tag
tokenization F3/F4 from fixed rules to a *learned* subword vocabulary).

Classic byte-pair encoding (Sennrich et al. 2016, ACL — public
algorithm): start from characters, repeatedly merge the most frequent
adjacent symbol pair. The distributed shape matters more than the
algorithm:

- The corpus is scanned ONCE, to build the word-frequency table
  (explode tokens → groupBy word; one shuffle). At 100 TB the corpus
  is billions of documents but the *distinct-word* table is
  vocabulary-sized (tens of millions of rows at the extreme) — every
  subsequent iteration runs on that small table, never on the corpus.
- Each merge iteration is: adjacent-pair counts over the vocab
  (posexplode-free — a `transform` over array indices, all JVM
  built-ins), a 1-row argmax collect (bounded by construction), and a
  pure-`aggregate` fold that rewrites each word's symbol array. No
  Python executes per row at any point.
- Lineage is truncated with a `localCheckpoint` every few merges so a
  k=1000 vocabulary build doesn't accumulate a k-deep plan.

Greedy left-to-right merge semantics are encoded as an array fold:
scanning output-so-far, a merge fires when the last emitted symbol
equals `left` and the current symbol equals `right`. This reproduces
the classic scan exactly — a just-merged token is `left || right`,
which can never equal `left` (right is non-empty), so a merged token
can never be re-consumed as the left half within the same pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .textanalysis import tokens


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, freq) table. The ONLY corpus-wide pass in BPE
    learning; everything after runs on this vocabulary-sized frame.
    One explode + one partial-aggregated hash agg (map-side combine
    collapses repeats before the shuffle)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def with_symbols(vocab: DataFrame) -> DataFrame:
    """Attach the initial symbol sequence: one character per symbol.
    `split(word, '')` is character-exact (unicode code points, same as
    DuckDB's per-character substring) and pure JVM."""
    return vocab.withColumn("symbols", F.split(F.col("word"), ""))


def pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the vocabulary, weighted by word
    frequency. `transform` over the first n-1 positions pairs each
    symbol with its successor — codegen'd array expression, then one
    explode + partial-agg. Overlapping occurrences each count (the
    classic formulation); the merge step applies non-overlapping
    left-to-right, which is why a merge can reduce total symbols by
    less than its counted frequency when left == right."""
    pairs = F.transform(
        F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
        lambda s, i: F.struct(
            s.alias("left"),
            F.element_at(F.col("symbols"), i + 2).alias("right"),
        ),
    )
    return (
        vocab_syms.filter(F.size("symbols") >= 2)
        .select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def apply_merge(vocab_syms: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every symbol array, merging (left, right) occurrences
    greedily left-to-right (non-overlapping). Pure `aggregate` fold —
    see module docstring for why last-emitted == left is exact."""
    l, r = F.lit(left), F.lit(right)
    # try_element_at: NULL (not ANSI error) on the empty accumulator;
    # NULL == l is NULL, so the `when` falls through to append — exact
    merged = F.aggregate(
        F.col("symbols"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == l) & (s == r),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(l, r)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return vocab_syms.withColumn("symbols", merged)


def learn_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Learn `n_merges` BPE merges; returns a DataFrame
    (rank, left, right, pair_count) ordered by rank.

    Driver work per iteration is exactly one 1-row collect (the argmax
    pair — ties broken by count desc, then lexicographic (left, right),
    so the merge sequence is deterministic and engine-independent).
    The vocab frame is localCheckpoint'ed every `checkpoint_every`
    merges: without truncation the plan nests one `aggregate` fold per
    merge and Catalyst analysis goes quadratic long before k reaches a
    real vocabulary size."""
    spark = df.sparkSession
    vocab = with_symbols(word_freqs(df, text_col)).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:  # every word is a single symbol — vocabulary saturated
            break
        row = top[0]
        merges.append((rank, row["left"], row["right"], row["pair_count"]))
        vocab = apply_merge(vocab, row["left"], row["right"])
        if (rank + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return local_frame(
        spark, merges, "rank BIGINT, left STRING, right STRING, pair_count BIGINT"
    )


def bpe_segment(df: DataFrame, text_col: str, merges: list[tuple[str, str]]):
    """Apply a learned merge list to a corpus column: tokens → per-token
    symbol arrays → fold each merge in rank order. Returns the input
    with a `bpe_tokens` array<string> column (flattened across words).

    Encoding is embarrassingly parallel (no shuffle): the learned merge
    list is a plan literal, so the whole rewrite is one codegen'd
    projection — the shape that tokenizes 100 TB at scan speed. The
    fold chain is k nested array expressions; for large k a real
    deployment encodes via a broadcast trie in a Pandas UDF instead —
    this form is the exact-semantics reference path."""
    toks = tokens(F.col(text_col))
    word_syms = F.transform(toks, lambda w: F.split(w, ""))

    def fold_merge(col, left: str, right: str):
        l, r = F.lit(left), F.lit(right)
        return F.transform(
            col,
            lambda syms: F.aggregate(
                syms,
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.try_element_at(acc, F.lit(-1)) == l) & (s == r),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(l, r)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ),
        )

    col = word_syms
    for left, right in merges:
        col = fold_merge(col, left, right)
    return df.withColumn("bpe_tokens", F.flatten(col))


def bpe_segment_arrow(df: DataFrame, text_col: str, merges: list[tuple[str, str]]):
    """Production encoder twin of :func:`bpe_segment` for large merge
    lists: the exact-semantics fold path nests one Catalyst array
    expression per merge (analysis goes quadratic around k≈100), so
    real vocabularies (k in the tens of thousands) encode in an
    Arrow-batched ``mapInPandas`` instead — the merge list ships once
    per task in the closure, and a per-batch memo caches each distinct
    word's segmentation (corpus words repeat heavily, so the Python
    cost is vocabulary-shaped, not corpus-shaped). Embarrassingly
    parallel, no shuffle; output is column-identical to
    :func:`bpe_segment` (parity pinned in tests/test_bpe.py)."""
    import re as _re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("bpe_tokens", ArrayType(StringType()))]
    )
    merge_list = list(merges)
    # ASCII whitespace only: the JVM fold path tokenizes with Java regex
    # \s+ (ASCII by default), while Python \s is Unicode-aware (U+00A0,
    # U+2028, ...) — the explicit class keeps the two twins splitting
    # identically on non-ASCII whitespace (parity pinned in test_bpe.py)
    ws = _re.compile(r"[ \t\n\r\f\x0b]+")

    def encode(batches):
        memo: dict[str, list[str]] = {}

        def seg_word(w: str) -> list[str]:
            got = memo.get(w)
            if got is not None:
                return got
            syms = list(w)
            for l, r in merge_list:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[w] = syms
            return syms

        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                if t is None or not t.strip():
                    toks.append([])
                    continue
                flat: list[str] = []
                for w in ws.split(t.strip()):
                    flat.extend(seg_word(w))
                toks.append(flat)
            pdf = pdf.copy()
            pdf["bpe_tokens"] = toks
            yield pdf

    return df.mapInPandas(encode, out_schema)
