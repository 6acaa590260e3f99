"""BPE word and symbol-pair statistics over the corpus (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units") — the statistics a BPE tokenizer's merge loop runs on.

ONE distributed pass reduces the corpus to the word-frequency table
(:func:`word_counts`, bounded by |vocab|, not corpus size — a 100 TB
corpus still has ~10^7 distinct words). :func:`pair_counts` turns that
table into the weighted symbol-pair frequencies over the initial
character vocabulary, the statistic BPE's first merge maximizes, as a
DataFrame so it is oracle-checkable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.text import tokenize

#: End-of-word sentinel, kept out of any plausible corpus alphabet.
EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass: (word, cnt). Map-side combined; output is
    vocab-bounded."""
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _char_pairs(word_col):
    """Adjacent symbol pairs of a word's initial char split, with the
    EOW sentinel appended — row-local.

    ``split(word, '')`` is defensively stripped of empty symbols:
    Java's split-with-limit semantics have emitted a trailing ``""``
    on some engine versions, which would inject phantom ``('x','')`` /
    ``('','</w>')`` pairs that no DuckDB ``string_split`` twin
    produces (the round-4 red ``bpe_pair_counts`` gate row's leading
    hypothesis). ``array_remove`` makes the pair stream identical
    regardless of the engine's trailing-empty behavior."""
    chars = F.concat(
        F.array_remove(F.split(word_col, ""), ""), F.array(F.lit(EOW))
    )
    return F.transform(
        F.sequence(F.lit(1), F.size(chars) - F.lit(1)),
        lambda i: F.struct(
            F.element_at(chars, i).alias("left"),
            F.element_at(chars, i + F.lit(1)).alias("right"),
        ),
    )


def pair_counts(wc: DataFrame) -> DataFrame:
    """Symbol-pair frequencies over the initial character vocabulary,
    weighted by word count — the statistic BPE's first merge maximizes.
    Output: (left, right, cnt)."""
    return (
        wc.select("cnt", F.explode(_char_pairs(F.col("word"))).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("cnt"))
    )
