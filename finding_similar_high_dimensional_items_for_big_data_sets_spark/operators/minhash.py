"""MinHash signature computation (SURVEY §2.4 A1-A2, §2.8 F5).

Spark-first design: the reference materializes a dense ``(N, 128)``
uint64 NumPy matrix via a Python double loop (reference
``benchmarks/synth_data.py:38-60``). Here a signature is an
``ARRAY<BIGINT>`` column built in two steps:

    shingles -> hashed = transform(shingles, H)        (JVM: hash once)
             -> sig_i  = min over hashed of (a_i*h + b_i) mod p  (numpy)

This is **shuffle-free** — per-document array work, no explode/groupBy
— so it scales linearly with the corpus and parallelizes per input
split. At 100 TB the signature build is a single map stage.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module-level: arrow_udf resolves the kernel's type hints here
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import (
    EMPTY_SENTINEL,
    MERSENNE31,
    MinHashParams,
    perm_coeffs,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    shingle_hash,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.text import (
    char_shingles,
    tokenize,
    word_shingles,
)


def shingles_col(text: Column, params: MinHashParams) -> Column:
    """Shingle-set column for a text column (reference
    ``benchmarks/synth_data.py:65-81``: word or char k-grams, distinct).
    """
    if params.by_word:
        return word_shingles(tokenize(text), params.k_shingle)
    return char_shingles(text, params.k_shingle)


def with_shingles(
    docs: DataFrame, params: MinHashParams, text_col: str = "text"
) -> DataFrame:
    return docs.withColumn("shingles", shingles_col(F.col(text_col), params))


def sign_batch(hashed: pa.Array, a: np.ndarray, b: np.ndarray) -> pa.Array:
    """:func:`signature_col` over one Arrow batch of hashed-shingle
    lists: flattened once, then per permutation one numpy pass over
    every cell (exact in int64: a, h < 2^31) and a per-row minimum."""
    n, num_perm = len(hashed), len(a)
    # flatten() honours slicing and skips values behind null rows,
    # which count as empty here and are re-nulled by the mask
    flat = hashed.flatten()
    lengths = pc.list_value_length(hashed).fill_null(0).to_numpy()
    if flat.null_count:  # drop null hashes from their rows
        valid = flat.is_valid().to_numpy(zero_copy_only=False)
        lengths = np.bincount(np.repeat(np.arange(n), lengths)[valid], minlength=n)
    h = flat.drop_null().to_numpy()
    nonempty = lengths > 0
    starts = (np.cumsum(lengths) - lengths)[nonempty]
    out = np.full((n, num_perm), EMPTY_SENTINEL, dtype=np.int64)
    cell = np.empty_like(h)  # reused: allocation would cost as much as the math
    for i in range(num_perm if h.size else 0):
        np.multiply(h, a[i], out=cell)
        cell += b[i]
        cell %= MERSENNE31
        out[nonempty, i] = np.minimum.reduceat(cell, starts)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * num_perm)
    return pa.ListArray.from_arrays(offsets, pa.array(out.ravel()), mask=hashed.is_null())


def signature_col(shingles: Column, params: MinHashParams) -> Column:
    """ARRAY<BIGINT> MinHash signature of a shingle-array column.

    Reference semantics (``benchmarks/synth_data.py:38-55``): per
    permutation i, min over shingles x of ``(a_i*H(x)+b_i) mod p``;
    empty shingle set -> sentinel (max field value); null -> null; a
    null shingle hash is skipped. Shingles are hashed in the JVM (the
    portable family stays DuckDB-identical) and permuted by the Arrow
    kernel :func:`sign_batch`: Spark would run a higher-order-function
    fold interpreted (CodegenFallback), one boxed call per cell.
    """
    a, b = (np.asarray(c, dtype=np.int64) for c in perm_coeffs(params.num_perm, params.seed))
    def sign(hashed: pa.Array) -> pa.Array:
        return sign_batch(hashed, a, b)

    hashed = F.transform(shingles, lambda s: shingle_hash(s, params.hash_family))
    return F.arrow_udf(sign, ArrayType(LongType()))(hashed)


def with_signature(
    docs_with_shingles: DataFrame,
    params: MinHashParams,
    shingles_column: str = "shingles",
) -> DataFrame:
    return docs_with_shingles.withColumn(
        "sig", signature_col(F.col(shingles_column), params)
    )


def signatures(
    docs: DataFrame, params: MinHashParams, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs(doc_id, text) -> sigs(doc_id, sig ARRAY<BIGINT>[num_perm])."""
    return (
        with_signature(with_shingles(docs, params, text_col), params)
        .select(id_col, "sig")
    )


def signatures_long(
    docs: DataFrame, params: MinHashParams, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exploded signature view ``(doc_id, perm_id, sig_value)``.

    Used by the correctness oracle (scalar columns hash stably across
    engines); the array form is the production layout.
    """
    sigs = signatures(docs, params, id_col, text_col)
    return sigs.select(id_col, F.posexplode("sig").alias("perm_id", "sig_value"))
