"""Text primitives: tokenize + shingling (SURVEY §2.8 F1-F3, §2.7 E3).

All pure ``pyspark.sql.functions`` expressions — no UDFs, shuffle-free
(per-row array work). The higher-order ones (``filter``, ``transform``)
are CodegenFallback: Spark evaluates them interpreted inside the stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize(text: Column) -> Column:
    """Whitespace word split (reference ``benchmarks/synth_data.py:73``).

    Splits on single spaces and drops empty tokens so the result is
    identical to DuckDB's ``string_split(text, ' ')`` after filtering.
    """
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def word_shingles(tokens: Column, k: int = 1) -> Column:
    """Distinct word k-grams (reference ``benchmarks/synth_data.py:73-76``).

    Short docs (fewer than k tokens) yield one shingle of the whole doc,
    matching the reference's fallback.
    """
    if k <= 0:
        raise ValueError("k must be >= 1")
    if k == 1:
        return F.array_distinct(tokens)
    joined_all = F.array(F.array_join(tokens, " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
    return F.array_distinct(F.when(F.size(tokens) < k, joined_all).otherwise(grams))


def char_shingles(text: Column, k: int) -> Column:
    """Distinct char k-grams (reference ``benchmarks/synth_data.py:78-81``).

    Strings shorter than k yield the whole string.
    """
    if k <= 0:
        raise ValueError("k must be >= 1")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - F.lit(k - 1)),
        lambda i: F.substring(text, i, k),
    )
    return F.array_distinct(
        F.when(F.length(text) < k, F.array(text)).otherwise(grams)
    )
