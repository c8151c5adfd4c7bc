"""Distributed BPE (byte-pair-encoding) vocabulary training.

The classic subword-vocabulary induction (Sennrich et al. 2016),
structured the way production BPE trainers actually run at corpus
scale: ONE pass over the corpus builds the distinct-(word, count)
table, and every merge iteration after that touches only that table —
cost is vocabulary-sized, corpus-size-independent. The reference
pipeline has no tokenizer training; this belongs to the
training-data layer (M5) next to the token-counting ops in text.py.

Scale design
------------
* **Word-count precompute**: ``explode → groupBy(word)`` — the only
  corpus-wide shuffle, map-side-combined to one row per
  (partition, word).
* **Merge iterations are driver-coordinated** like
  ``clustering.kmeans_fit``: each round one pair-count aggregation over
  the word table (shuffle rows ≤ partitions × distinct-pairs), one
  1-row ordered collect (the argmax pair), and one pure-projection
  merge rewrite. ``localCheckpoint`` truncates the lineage every round
  so the plan does not grow by one fold per merge (same trick as
  ``dedup.connected_components``).
* **The merge rewrite is a single ``aggregate`` fold** building the new
  symbol array left-to-right: append, or — when (last, current) equals
  the merge pair — replace the last element with the fused symbol.
  A left-to-right single pass IS the standard greedy BPE application:
  a fused symbol can immediately absorb the NEXT raw symbol
  ([a,a,a,a] + (a,a) → [aa,aa]) but never re-matches the raw pair.

Determinism: the argmax pair tie-breaks (count DESC, left ASC,
right ASC); word counts are exact integers — so the merge sequence is
identical on every engine, rerun, and partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import (
    materialize as _ckpt,
)
from gcp_food_delivery_data_pipeline_spark.operators.text import (
    adjacent_pairs,
    tokens,
)

EOW = "</w>"  # end-of-word marker, as in Sennrich's reference trainer


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n, syms): distinct corpus words with counts and their
    initial symbol arrays (characters + the end-of-word marker)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    syms = F.concat(F.split("word", ""), F.array(F.lit(EOW)))
    return words.select("word", "n", syms.alias("syms"))


def pair_counts(word_table: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair frequencies, weighted
    by word count — one BPE iteration's statistics."""
    zipped = adjacent_pairs("syms", left="left", right="right")
    return (
        word_table.select(F.col("n"), F.explode(zipped).alias("_p"))
        .groupBy(
            F.col("_p.left").alias("left"), F.col("_p.right").alias("right")
        )
        .agg(F.sum("n").alias("cnt"))
    )


def apply_merge(syms: Column | str, left: str, right: str) -> Column:
    """Symbol array with every adjacent (left, right) fused — one
    left-to-right ``aggregate`` fold, pure Column expression."""
    c = F.col(syms) if isinstance(syms, str) else syms
    fused = F.lit(left + right)
    return F.aggregate(
        c,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(fused)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; stops early
    when the best remaining pair occurs fewer than ``min_count`` times
    (merging hapax pairs only memorizes noise)."""
    # one lineage cut per merge; durability follows the session conf
    # spark.foodPipeline.checkpointMode (default localCheckpoint)
    wt = _ckpt(word_symbol_table(df, text_col))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(wt)
            .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0].cnt < min_count:
            break
        left, right = top[0].left, top[0].right
        merges.append((left, right))
        wt = _ckpt(
            wt.select(
                "word", "n", apply_merge("syms", left, right).alias("syms")
            )
        )
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, n_subwords): documents re-tokenized with a
    trained merge list — the "how many subword tokens will this doc
    cost" measure under YOUR vocabulary rather than the generic
    pretokenizer proxy (text.bpe_token_count).

    Applies merges in training order as chained folds over each
    word's symbol array; plan size grows with len(merges), so segment
    with the merge budget you trained (tens, not thousands — for a
    production-size vocab, export the merges to a real tokenizer)."""
    toks = tokens(F.col(text_col))
    per_word = F.transform(
        toks, lambda w: F.concat(F.split(w, ""), F.array(F.lit(EOW)))
    )
    segmented = per_word
    for left, right in merges:
        segmented = F.transform(
            segmented, lambda s: apply_merge(s, left, right)  # noqa: B023
        )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(segmented, lambda s: F.size(s)),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("n_subwords"),
    )
