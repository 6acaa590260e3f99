"""Deduplication family for large-scale training-data pipelines.

Five dedup strategies, all as DataFrame transformations over the
``documents`` / ``embeddings`` tables:

- exact:            normalized-text hash groupBy            (zero FP)
- minhash_lsh:      shingle -> MinHash -> band bucket self-join
                    (reference's own similarity semantic, §2.3 J1)
- simhash:          64-bit weighted-bit fingerprint, near-dup by
                    hamming distance over bucketed prefixes
- ngram_jaccard:    exact word n-gram Jaccard above threshold
- embedding_cosine: near-dup by cosine over dense vectors

Scale notes: every strategy is shuffle-bounded by its blocking key
(hash, band bucket, simhash prefix band, LSH bucket) — never an
unblocked O(N^2) pair join. Exact dedup is one hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.materialize import (
    materialize,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
    cosine_similarity,
    dot_product,
    l2_norm,
    jaccard_arrays,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    portable_hash64,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.text import (
    tokenize,
    word_shingles,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text.

    Output: (doc_id, canonical_id, content_hash) for docs in groups of
    size >= 2; canonical = smallest doc_id of the group.
    """
    hashed = docs.select(
        F.col(id_col),
        portable_hash64(normalize_text(F.col(text_col))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") >= 2)
        .select(id_col, "canonical_id", "content_hash")
    )


def minhash_lsh_duplicates(
    docs: DataFrame,
    params: MinHashParams | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs via the engine's own MinHash-LSH self-join.

    Output: (doc_a, doc_b, score) with doc_a < doc_b, est-Jaccard >=
    threshold. Banding makes blocking automatic; est-Jaccard verifies.
    """
    params = params or MinHashParams()
    sigs = minhash.signatures(docs, params, id_col, text_col)
    bands = lsh.bands_table(sigs, params, id_col)
    return lsh.self_join_pairs(bands, sigs, params, threshold)


# Blank-line paragraph boundary: one newline, optional horizontal/
# vertical whitespace, another newline. Shared verbatim by the DuckDB
# oracle twin (both regex engines agree on this class).
PARAGRAPH_SPLIT = r"\n\s*\n"


def split_paragraphs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode documents into paragraphs on blank-line boundaries.

    Output: (id_col, para_idx INT, para STRING) — ``para_idx`` is the
    paragraph's ORIGINAL position (post-split index, gaps where empty
    segments were dropped), which is what reassembly sorts by; ``para``
    is trimmed. Whitespace-only segments (leading/trailing blank lines,
    ``\\n\\n\\n`` runs) are dropped. A doc whose text has no non-empty
    paragraph disappears entirely.

    Scale shape: pure per-row array work (split + posexplode), no
    shuffle — the paragraph table is a map stage over the corpus.
    """
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), PARAGRAPH_SPLIT)).alias(
                "para_idx", "para"
            ),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.col("para") != "")
    )


def paragraph_dedup(
    docs: DataFrame,
    params: MinHashParams | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_stride: int = 1_000_000,
) -> DataFrame:
    """Paragraph-level near-dedup, first-wins — the Dolma/RefinedWeb
    granularity between exact line dedup (``remove_boilerplate_lines``)
    and whole-document dedup: boilerplate paragraphs (nav blocks,
    license headers, quoted reposts) recur across millions of pages
    whose documents are NOT near-duplicates of each other, and
    doc-level MinHash never sees them.

    Pipeline: split every doc on blank-line boundaries
    (:func:`split_paragraphs`), MinHash/band each paragraph as its own
    unit, LSH self-join for near-duplicate paragraph pairs
    (est-Jaccard >= ``threshold``), then drop every paragraph that
    near-duplicates an EARLIER one — earlier = smaller (doc id,
    position) lexicographically, the deterministic first-wins rule;
    applied pairwise, so any paragraph appearing as the larger side of
    any surviving pair is dropped. Survivors are reassembled in
    original order with the blank-line separator restored.

    Output: one row per input doc that had at least one paragraph —
    (id_col, text STRING, n_paras BIGINT, n_kept BIGINT); ``text`` is
    empty (and n_kept 0) when every paragraph of the doc lost.

    ``id_stride``: paragraphs get the synthetic orderable key
    ``doc_id * id_stride + para_idx`` so the whole LSH machinery runs
    unchanged over one bigint id; docs must carry fewer than
    ``id_stride`` paragraphs and ids must stay under
    ``2^63 / id_stride`` (~9.2e12 at the default — comfortably past a
    100 TB corpus's doc count).

    Scale shape: the dedup core shuffles only (pid, sig) /
    (band_id, band_hash) — never paragraph text (the same bounds as
    :func:`minhash_lsh_duplicates`, on the paragraph table). Text
    moves exactly twice: the anti-join that removes losers (shuffle on
    pid) and the reassembly groupBy (shuffle on doc id) — both keyed,
    both AQE-coalesced, no driver collect anywhere.
    """
    params = params or MinHashParams()
    paras = split_paragraphs(docs, id_col, text_col).withColumn(
        "pid", F.col(id_col) * id_stride + F.col("para_idx")
    )
    sigs = minhash.signatures(
        paras.select(F.col("pid").alias("doc_id"), F.col("para").alias("text")),
        params,
    )
    bands = lsh.bands_table(sigs, params)
    pairs = lsh.self_join_pairs(bands, sigs, params, threshold)
    losers = pairs.select(F.col("doc_b").alias("pid")).distinct()
    kept = paras.join(losers, "pid", "left_anti")
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("text", F.lit("")).alias("text"),
        "n_paras",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
    )


def cross_corpus_duplicates(
    docs: DataFrame,
    ref_docs: DataFrame,
    params: MinHashParams | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "ref_id",
    broadcast_ref: bool = True,
) -> DataFrame:
    """Cross-corpus near-dup flagging (DECONTAMINATION): training docs
    that near-duplicate ANY document of a held-out reference corpus
    (benchmark / eval / test sets) — the pretraining hygiene step that
    self-join dedup cannot express, since the two sides are different
    tables and only cross pairs matter.

    Banding blocks as usual, but the join is corpus-bands vs
    REFERENCE-bands instead of a self-join; candidates are verified
    with exact estimated-Jaccard >= threshold. Output:
    (doc_id, ref_id, score), one row per flagged cross pair (a doc
    matching several reference docs appears once per match — dedupe on
    doc_id downstream to drop).

    Scale shape: the reference corpus is tiny next to 100 TB of
    training data (benchmarks are thousands of docs), so with
    ``broadcast_ref`` its band table rides a broadcast and the
    TRAINING side never shuffles at all — the whole decontamination
    pass is one map-side join plus the scoring join. Set
    ``broadcast_ref=False`` for reference corpora beyond driver size
    (shuffle on the compact band key, AQE skew handling).
    """
    params = params or MinHashParams()
    # Sign each side ONCE: the banding probe and the scoring join both
    # consume the signature table, and Spark plans self-referencing
    # subtrees twice (no CSE across joins) — without materialization
    # the expensive shingle+minhash pass ran twice per side per query
    # (guide §3.3: materialise an intermediate to truncate the plan;
    # measured 2 corpus scans -> 1 at sf0.1). materialize() is
    # per-invocation (fresh RDD each call), so nothing persists across
    # runs — set spark.spark_graft.materialize=reliable on clusters to
    # survive executor loss; the production shape remains
    # cross_corpus_pairs_from_index
    # over the PREBUILT artifacts.
    sigs = minhash.signatures(docs, params, id_col, text_col).transform(materialize)
    bands = lsh.bands_table(sigs, params, id_col)
    # ref_docs may use the same id column name; it becomes ref_id_col
    ref_sigs = (
        minhash.signatures(ref_docs, params, id_col, text_col)
        .select(F.col(id_col).alias(ref_id_col), "sig")
        .transform(materialize)
    )
    ref_bands = lsh.bands_table(ref_sigs, params, ref_id_col)
    return cross_corpus_pairs_from_index(
        bands, sigs, ref_bands, ref_sigs, params, threshold,
        id_col=id_col, ref_id_col=ref_id_col, broadcast_ref=broadcast_ref,
    )


def cross_corpus_pairs_from_index(
    bands: DataFrame,
    sigs: DataFrame,
    ref_bands: DataFrame,
    ref_sigs: DataFrame,
    params: MinHashParams,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    ref_id_col: str = "ref_id",
    broadcast_ref: bool = True,
) -> DataFrame:
    """:func:`cross_corpus_duplicates` for callers holding PREBUILT
    index artifacts (the maintained sigs/bands tables): skips the
    signing stage entirely — a production decontamination pass reuses
    the same persisted index every probe does. ``ref_bands``/
    ``ref_sigs`` carry ``ref_id_col``; both sides must share the
    banding params."""
    # the lsh candidate/scoring primitives name the corpus key doc_id;
    # rename in (no-op for the default) and alias back on the way out
    if id_col != "doc_id":
        bands = bands.withColumnRenamed(id_col, "doc_id")
        sigs = sigs.withColumnRenamed(id_col, "doc_id")
    if broadcast_ref and params.max_candidates is None:
        # Fused candidate+score path for the broadcast-reference
        # regime (the 100 TB decontamination shape): the per-pair
        # `distinct` and the scorer's per-doc `groupBy` are the same
        # aggregation keyed the same way, so run ONE collect_set
        # straight off the band join (guide §2.4 — one exchange, with
        # map-side combine absorbing the per-band pair duplicates) and
        # hand the grouped lists to the Arrow matrix scorer (guide
        # §4.2 — one numpy broadcast-compare per doc instead of the
        # pair-join fold that ships both 1 KB signatures per pair;
        # match counts are integer sums, so scores are bit-identical).
        # Pre-aggregate the (broadcast-sized) reference side to one
        # ref-id list per band bucket BEFORE the join: the raw
        # band-level pair join multiplies rows by per-bucket ref
        # occupancy (measured 10.8M join rows for 1.16M distinct pairs
        # at sf0.1), and the per-pair aggregation over those rows
        # dominated the pass. Joining against bucket LISTS keeps the
        # join output at <= one row per corpus band row; the pair
        # expansion happens inside arrays (flatten + array_distinct
        # per doc), so the aggregation shuffles ~|corpus bands| narrow
        # rows instead of ~|pairs x shared bands| (guide §2.3: shuffle
        # keys and metadata, not multiplied rows).
        ref_buckets = (
            ref_bands.select(ref_id_col, "band_id", "band_hash")
            .groupBy("band_id", "band_hash")
            .agg(F.collect_set(ref_id_col).alias("__refs"))
        )
        cand_sets = (
            bands.join(
                F.broadcast(ref_buckets), ["band_id", "band_hash"], "inner"
            )
            .groupBy("doc_id")
            .agg(
                F.array_distinct(F.flatten(F.collect_list("__refs"))).alias(
                    "__qids"
                )
            )
        )
        scored = lsh.score_candidates_vectorized(
            cand_sets,
            sigs,
            ref_sigs.select(ref_id_col, "sig"),
            params,
            query_id_col=ref_id_col,
            grouped=True,
        )
    else:
        cand = lsh.candidates(
            bands,
            ref_bands.select(ref_id_col, "band_id", "band_hash"),
            broadcast_query=broadcast_ref,
            query_id_col=ref_id_col,
            max_candidates=params.max_candidates,
        )
        scored = lsh.score_candidates(
            cand,
            sigs,
            ref_sigs.select(ref_id_col, "sig"),
            params,
            query_id_col=ref_id_col,
            broadcast_query=broadcast_ref,
        )
    return scored.filter(F.col("score") >= threshold).select(
        F.col("doc_id").alias(id_col), ref_id_col, "score"
    )


def simhash64(tokens: Column, family: str = "xxhash64") -> Column:
    """64-bit SimHash of a token array (Charikar random-hyperplane over
    the hashing trick): bit j of the fingerprint is the sign of the sum
    over distinct tokens of (+1 if bit j of H(token) else -1).

    Pure higher-order expressions: per-row O(|tokens| * 64) bit math,
    JVM-side, shuffle-free. ``family="portable"`` uses the md5-derived
    60-bit hash (bits 60-63 then always vote negative) so the result is
    DuckDB-reproducible; the default xxhash64 uses all 64 bits.
    """
    toks = F.array_distinct(tokens)
    if family == "portable":
        hashes = F.transform(toks, lambda t: portable_hash64(t))
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def vote(j: int):
        # +1 per token whose hash has bit j set, -1 otherwise.
        # shiftright is arithmetic, which is fine for (h >> j) & 1.
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == F.lit(1), 1).otherwise(
                -1
            ),
        )

    # bit 63's literal is the int64 min value in two's complement
    def bit_lit(j: int):
        return F.lit(1 << j if j < 63 else -(1 << 63)).cast("bigint")

    out = F.lit(0).cast("bigint")
    for j in range(64):
        out = out.bitwiseOR(F.when(vote(j) > 0, bit_lit(j)).otherwise(F.lit(0).cast("bigint")))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the 64-bit fingerprint into ``n_bands`` 16-bit
    chunks; by pigeonhole, any pair within hamming distance
    ``n_bands - 1`` shares at least one exact chunk — join per chunk,
    then verify the true distance. Shuffles only on (chunk_id, chunk).
    """
    fp = docs.select(
        F.col(id_col), simhash64(tokenize(F.col(text_col)), family).alias("simhash")
    )
    chunk_bits = 64 // n_bands
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk"),
            )
            for i in range(n_bands)
        ]
    )
    chunks = fp.select(
        id_col, F.explode(chunk_structs).alias("c")
    ).select(id_col, F.col("c.chunk_id").alias("band_id"), F.col("c.chunk").alias("band_hash"))
    pairs = lsh.band_pair_candidates(chunks, min_bands=1, id_col=id_col)
    fa = fp.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_duplicates(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocking_params: MinHashParams | None = None,
) -> DataFrame:
    """Exact word n-gram Jaccard near-dups, LSH-blocked.

    Candidate pairs come from MinHash-LSH banding over the same
    n-grams (cheap, high-recall blocking); the final score is the
    EXACT n-gram Jaccard, so results are deterministic and
    threshold-exact. Output: (doc_a, doc_b, jaccard).

    Default blocking is recall-heavy (b=64, r=2: >99.9% candidate
    probability at J=1/3) since the exact verify step removes false
    positives for free.
    """
    params = blocking_params or MinHashParams(k_shingle=n, bands=64)
    grams = docs.select(
        F.col(id_col),
        word_shingles(tokenize(F.col(text_col)), n).alias("shingles"),
    )
    sigs = minhash.with_signature(grams, params).select(id_col, "sig")
    bands = lsh.bands_table(sigs, params, id_col)
    pairs = lsh.band_pair_candidates(bands, min_bands=1, id_col=id_col)
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard_arrays(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: min-label propagation until
    fixpoint. Output: (doc_id, group_id) where group_id is the smallest
    doc_id in the connected component (singletons keep their own id).

    Iterative joins on the driver — the standard Spark CC pattern.
    Rounds needed = graph diameter; near-dup components are clique-like,
    so 2-4 rounds in practice. Each round is one shuffle-join + one
    aggregation; intermediate labels are cached and the lineage is cut
    by materialize() every few rounds so plans don't grow unboundedly
    at scale. (At extreme graph sizes, swap in large-star/small-star —
    same external contract.)
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .cache()
    )
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    labels = labels.cache()
    converged = False
    for i in range(max_iter):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        ).cache()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if i % 5 == 4:
            labels = labels.transform(materialize, eager=True)
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # Silent wrong labels are worse than a loud failure: a component
        # whose diameter exceeds max_iter would get split into several
        # groups without this guard.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (rounds needed = graph diameter)"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("group_id"))


def embedding_cosine_duplicates(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    compress_identical: bool = True,
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity >= threshold.

    Blocking: random-hyperplane (sign) LSH buckets — vectors that are
    near-identical in cosine almost surely share the full sign
    pattern; candidate pairs are verified with exact cosine. Shuffles
    only on the bucket key. Output: (vec_a, vec_b, cos_sim).

    Scale levers (both on by default for library callers):
    - ``n_planes=None`` sizes the bucket count to the corpus via
      ``ann.auto_n_planes`` (2^planes ~= N / 256) using the ``n_rows``
      hint, or one count job if no hint — a FIXED plane count makes
      every within-bucket join quadratic at 100x the rows.
    - ``compress_identical`` groups exactly-identical vectors before
      the bucket self-join (the adversarial skew case: a clone-heavy
      corpus drives every clone into one bucket no matter how many
      planes). Scoring then runs once per DISTINCT vector pair; member
      ids are re-expanded only into the true output.
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
        auto_n_planes,
        hyperplane_bucket,
    )

    if n_planes is None:
        n_planes = auto_n_planes(
            n_rows if n_rows is not None else embeddings.count()
        )

    def with_block(df: DataFrame, col: str) -> DataFrame:
        return df.withColumn(
            "bucket", hyperplane_bucket(F.col(col), dim, n_planes=n_planes, seed=seed)
        )

    return _cosine_pairs_blocked(
        embeddings, with_block, threshold, id_col, vec_col, compress_identical
    )


def _require_integral_id(df: DataFrame, id_col: str, where: str) -> None:
    """The Arrow scale kernels emit 64-bit integer id columns
    (``vec_a long, vec_b long`` / ``{id_col} long``) and cast
    clone-group members through ``np.int64`` — a string or other
    non-integral id would fail deep inside a pandas batch, or worse,
    silently corrupt. Fail fast with an actionable message instead;
    the ``assign='expr'`` / ``scorer='join'`` paths carry any id type.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{where} requires an integral id column; {id_col!r} is "
            f"{dt.simpleString()}. Use the expression path (assign='expr' / "
            "scorer='join'), or map ids to longs first (e.g. "
            "monotonically_increasing_id or a hash) and join back after."
        )


def _cosine_pairs_blocked(
    embeddings: DataFrame,
    with_block,
    threshold: float,
    id_col: str,
    vec_col: str,
    compress_identical: bool,
    scorer: str = "join",
) -> DataFrame:
    """Shared core of the blocked exact-cosine pair finders:
    ``with_block(df, vec_colname)`` adds a ``bucket`` blocking-key
    column (an expression OR an Arrow stage), then self-join within
    blocks, verify with the exact (rounded-6) cosine fold, and
    optionally clone-compress identical vectors first.
    :func:`embedding_cosine_duplicates` (hyperplane-sign blocks),
    :func:`embedding_cosine_duplicates_multiprobe` (exploded probe
    buckets) and :func:`semantic_duplicates` (nearest-centroid cells)
    all route here, so their outputs differ ONLY in the candidate
    blocking. A row may carry several ``bucket`` values (one row per
    value); the final ``distinct`` keeps each pair once.

    ``scorer="join"`` verifies candidates with the per-pair fold
    expression (oracle bit-parity); ``scorer="arrow"`` replaces the
    quadratic join with ONE normalized matmul per block
    (``applyInPandas``) — the kernel that keeps within-block
    verification tractable when blocks hold thousands of rows, at the
    cost of float-reassociation ULPs (and numpy round-half-even vs
    Spark round-half-up) on exact-boundary pairs. Requires
    ``compress_identical`` (the matmul must not see clone mega-blocks).
    Output: (vec_a, vec_b, cos_sim)."""
    if scorer not in ("join", "arrow"):
        raise ValueError(f"scorer must be 'join' or 'arrow', got {scorer!r}")
    if scorer == "arrow":
        _require_integral_id(embeddings, id_col, "scorer='arrow'")
    if scorer == "arrow" and not compress_identical:
        raise ValueError(
            "scorer='arrow' requires compress_identical=True: the per-block "
            "matmul is quadratic in block rows, so clone mega-groups must "
            "be collapsed first"
        )
    if not compress_identical:
        # Materialize the blocked side once (the self-join would plan
        # the blocking expression twice — guide §3.3) and precompute
        # the per-vector norm so the per-pair verification folds only
        # the dot product: cosine = try_divide(dot, na*nb) with na/nb
        # the SAME l2_norm sub-expressions — bit-identical values.
        bucketed = with_block(
            embeddings.select(F.col(id_col), F.col(vec_col)), vec_col
        ).withColumn("__n", l2_norm(F.col(vec_col))).transform(materialize)
        left = bucketed.select(
            F.col(id_col).alias("vec_a"),
            F.col(vec_col).alias("emb_a"),
            F.col("__n").alias("__na"),
            "bucket",
        )
        right = bucketed.select(
            F.col(id_col).alias("vec_b"),
            F.col(vec_col).alias("emb_b"),
            F.col("__n").alias("__nb"),
            "bucket",
        )
        return (
            left.join(right, "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a",
                "vec_b",
                # round(6) BEFORE the threshold filter so 1-ULP fold
                # differences vs the oracle can't flip boundary pairs.
                F.round(
                    F.try_divide(
                        dot_product(F.col("emb_a"), F.col("emb_b")),
                        F.col("__na") * F.col("__nb"),
                    ),
                    6,
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
            .distinct()
        )

    # One group per distinct vector value; scoring joins touch only
    # representatives, so a clone mega-bucket costs O(distinct^2) in the
    # quadratic stage instead of O(N^2).
    groups = embeddings.groupBy(F.col(vec_col).alias("vec")).agg(
        F.min(id_col).alias("rep"),
        F.sort_array(F.collect_list(id_col)).alias("members"),
    )
    bucketed = with_block(groups.select("rep", "vec", "members"), "vec")
    if scorer == "arrow":
        cross = _pairs_in_blocks_arrow(bucketed, threshold)
        return cross.unionByName(_within_group_pairs(groups, threshold)).distinct()
    # Materialize once (self-join plans the blocking expression twice
    # otherwise) and carry the per-rep norm so pair verification folds
    # only the dot (same sub-expressions, bit-identical values).
    bucketed = bucketed.withColumn("__n", l2_norm(F.col("vec"))).transform(materialize)
    la = bucketed.select(
        F.col("rep").alias("rep_a"),
        F.col("vec").alias("emb_a"),
        F.col("members").alias("members_a"),
        F.col("__n").alias("__na"),
        "bucket",
    )
    lb = bucketed.select(
        F.col("rep").alias("rep_b"),
        F.col("vec").alias("emb_b"),
        F.col("members").alias("members_b"),
        F.col("__n").alias("__nb"),
        "bucket",
    )
    cross = (
        la.join(lb, "bucket")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select(
            "members_a",
            "members_b",
            F.round(
                F.try_divide(
                    dot_product(F.col("emb_a"), F.col("emb_b")),
                    F.col("__na") * F.col("__nb"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.explode("members_a").alias("ma"), "members_b", "cos_sim"
        )
        .select(
            "ma", F.explode("members_b").alias("mb"), "cos_sim"
        )
        .select(
            F.least("ma", "mb").alias("vec_a"),
            F.greatest("ma", "mb").alias("vec_b"),
            "cos_sim",
        )
    )
    return cross.unionByName(_within_group_pairs(groups, threshold)).distinct()


def _within_group_pairs(groups: DataFrame, threshold: float) -> DataFrame:
    """Identical-vector pairs: score once per clone group through the
    SAME cosine fold (self-cosine, ~1.0 modulo rounding) so values
    match the uncompressed path bit-for-bit."""
    return (
        groups.filter(F.size("members") > 1)
        .select(
            "members",
            F.round(cosine_similarity(F.col("vec"), F.col("vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.explode("members").alias("ma"), "members", "cos_sim")
        .select("ma", F.explode("members").alias("mb"), "cos_sim")
        .filter(F.col("ma") < F.col("mb"))
        .select(F.col("ma").alias("vec_a"), F.col("mb").alias("vec_b"), "cos_sim")
    )


def _pairs_in_blocks_arrow(bucketed: DataFrame, threshold: float) -> DataFrame:
    """One normalized matmul per block instead of a quadratic join of
    per-pair fold expressions: for each bucket, stack the (distinct)
    vectors, compute the full cosine matrix, keep upper-triangle pairs
    at/above threshold, and expand clone-group members. The common
    all-singleton case is fully vectorized; groups with clone members
    expand in a short Python loop (clone groups are rare AFTER
    compression — each contributes one row per block)."""
    import numpy as np
    import pandas as pd

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        g = len(pdf)
        if g < 2:
            return empty
        m = np.vstack(pdf["vec"].values).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = np.nan  # zero vectors never pair (NULL cosine)
        mn = m / norms[:, None]
        sims = np.round(mn @ mn.T, 6)
        iu, ju = np.triu_indices(g, k=1)
        keep = sims[iu, ju] >= threshold
        if not keep.any():
            return empty
        iu, ju, s = iu[keep], ju[keep], sims[iu, ju][keep]
        members = pdf["members"].values
        sizes = np.array([len(x) for x in members])
        if (sizes == 1).all():
            a = np.array([members[i][0] for i in iu], dtype=np.int64)
            b = np.array([members[j][0] for j in ju], dtype=np.int64)
            return pd.DataFrame(
                {
                    "vec_a": np.minimum(a, b),
                    "vec_b": np.maximum(a, b),
                    "cos_sim": s,
                }
            )
        out_a, out_b, out_s = [], [], []
        for i, j, sim in zip(iu, ju, s):
            ma = np.asarray(members[i], dtype=np.int64)
            mb = np.asarray(members[j], dtype=np.int64)
            aa = np.repeat(ma, len(mb))
            bb = np.tile(mb, len(ma))
            out_a.append(np.minimum(aa, bb))
            out_b.append(np.maximum(aa, bb))
            out_s.append(np.full(len(aa), sim))
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    return bucketed.groupBy("bucket").applyInPandas(
        score, schema="vec_a long, vec_b long, cos_sim double"
    )


def embedding_cosine_duplicates_multiprobe(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    seed: int = 42,
    probe_margin: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compress_identical: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with margin-gated MULTIPROBE blocking.

    Single-bucket blocking misses every pair whose members straddle a
    hyperplane: at cos >= 0.9 with 8 planes only ~29% of true pairs
    share the full sign pattern. Here each vector also emits the
    single-bit flips of planes whose |dot| < probe_margin * ||v|| (a
    straddled plane has both members near its boundary w.h.p.), and
    pairs block on ANY shared emitted bucket. Single-bit emission on
    BOTH sides covers pairs differing in <= 2 planes (A emits A^i, B
    emits B^j; A^i = B^j iff A^B = {i, j}), lifting pair recall at the
    0.9 threshold from ~0.29 to ~0.9 while emission stays
    1 + n_planes * P(|dot| < margin*||v||) rows per vector — a small
    constant factor on the blocking volume, never O(N^2).

    Verification is exact cosine >= threshold, so extra probes only add
    recall, never false positives. Shuffles on the emitted bucket key.
    Output: (vec_a, vec_b, cos_sim), a SUPERSET of the single-bucket
    operator's pairs at the same (planes, seed).

    ``n_planes=None`` sizes the bucket count to the corpus via
    ``ann.auto_n_planes`` using the ``n_rows`` hint (one count job
    without it) — same auto-scale lever as the single-bucket operator:
    the margin gate bounds EMISSION per vector, but within-bucket join
    volume still grows quadratically at a fixed plane count.
    """
    if n_planes is None:
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
            auto_n_planes,
        )

        n_planes = auto_n_planes(
            n_rows if n_rows is not None else embeddings.count()
        )

    def with_block(df: DataFrame, col: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(_probe_array(col, dim, n_planes, seed, probe_margin)),
        )

    return _cosine_pairs_blocked(
        embeddings, with_block, threshold, id_col, vec_col, compress_identical
    )


def _probe_array(vec_col: str, dim: int, n_planes: int, seed: int, probe_margin: float):
    """Probe-bucket array column: the vector's sign bucket plus the
    single-bit flips of planes with |dot| < probe_margin * ||v||.
    round(10) on dots and gate: the margin compare must pick identical
    emissions on Spark and the DuckDB oracle (cosine scoring keeps its
    own round(6) contract)."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
        l2_norm,
    )
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
        _dot_lit,
        random_planes,
    )

    planes = random_planes(dim, n_planes, seed)
    vec = F.col(vec_col)
    dots = [F.round(_dot_lit(vec, p), 10) for p in planes]
    bucket = dots[0] * F.lit(0)
    for j, d in enumerate(dots):
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    bucket = bucket.cast("int")
    gate = F.round(l2_norm(vec) * F.lit(float(probe_margin)), 10)
    flips = F.array(
        *[
            F.when(F.abs(d) < gate, bucket.bitwiseXOR(F.lit(1 << j)))
            for j, d in enumerate(dots)
        ]
    )
    return F.concat(F.array(bucket), F.filter(flips, lambda x: x.isNotNull()))


def semantic_duplicates(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compress_identical: bool = True,
    assign: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): block vectors by their nearest-centroid cluster
    cell (the IVF coarse quantizer, ``ann.nearest_cell``), then verify
    every within-cell pair with exact cosine similarity >= threshold.

    vs :func:`embedding_cosine_duplicates` (hyperplane-sign blocking):
    clustering adapts the blocks to the DATA — a corpus concentrated
    in a few directions still splits into balanced cells, where sign
    buckets would collapse — at the cost of needing centroids up
    front. Train them with ``ann.ivf_train`` (Lloyd) for real corpora,
    or pass ``ann.random_centroids`` for a deterministic pipeline.
    Known recall caveat (inherent to the paper's design): a true pair
    straddling a cell boundary is missed; raise the threshold's
    safety margin or lower the cell count for higher recall.

    Scale: one narrow shuffle on the cell key; within-cell work is
    quadratic per cell, so size ``len(centroids)`` ~ N/target_cell.
    Clone compression (on by default) keeps the adversarial
    identical-vector corpus linear, same as the hyperplane path.

    ``assign`` picks the cell-assignment kernel: ``"expr"`` unrolls
    one fold expression per centroid (bit-exact vs the SQL oracle,
    codegen-bounded to small cell counts), ``"arrow"`` broadcasts the
    centroid matrix into one numpy argmin per Arrow batch (the
    :func:`ann.ivf_assign_vectorized` kernel — may differ by float-tie
    ULPs at exact cell boundaries), ``"auto"`` switches to arrow above
    64 centroids. Output: (vec_a, vec_b, cos_sim).

    **Corpus-scaled cell counts**: pass an :class:`ann.HKMQuantizer`
    as ``centroids`` instead of a flat list. Flat argmin assignment is
    O(n_cells * dim) per row — with n_cells ∝ N that is O(N²) total
    (the round-4 scaling bench measured 4.3x super-linear at 10x
    rows); greedy tree descent is O(branch * log n_cells * dim) per
    row, restoring ~linear total assignment work. The quantizer's
    leaves play the cell role; ``assign`` is ignored (the tree IS the
    assignment kernel).
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
        HKMQuantizer,
        hkm_assign,
        ivf_assign_vectorized,
        nearest_cell,
    )

    if isinstance(centroids, HKMQuantizer):
        quantizer = centroids

        def with_block(df: DataFrame, col: str) -> DataFrame:
            return hkm_assign(df, quantizer, vec_col=col, cell_col="bucket")

        return _cosine_pairs_blocked(
            embeddings,
            with_block,
            threshold,
            id_col,
            vec_col,
            compress_identical,
            scorer="arrow",
        )
    if assign == "auto":
        assign = "arrow" if len(centroids) > 64 else "expr"
    if assign == "expr":
        def with_block(df: DataFrame, col: str) -> DataFrame:
            return df.withColumn("bucket", nearest_cell(F.col(col), centroids))
    elif assign == "arrow":
        def with_block(df: DataFrame, col: str) -> DataFrame:
            return ivf_assign_vectorized(df, centroids, vec_col=col, cell_col="bucket")
    else:
        raise ValueError(f"assign must be 'auto', 'expr', or 'arrow', got {assign!r}")

    # the scorer follows the assignment kernel: expression blocks stay
    # oracle-exact end-to-end; Arrow blocks (corpus-scaled cell counts)
    # also verify via the per-block matmul — the per-pair fold join
    # would dominate once cells hold thousands of rows
    return _cosine_pairs_blocked(
        embeddings,
        with_block,
        threshold,
        id_col,
        vec_col,
        compress_identical,
        scorer="arrow" if assign == "arrow" else "join",
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 25,
    assign: str = "auto",
) -> DataFrame:
    """Full SemDeDup pass: cluster-blocked cosine pairs
    (:func:`semantic_duplicates`) -> connected components -> keep one
    representative (the smallest id) per semantic-duplicate group.
    Deterministic given the centroids, unlike the paper's
    keep-farthest-from-centroid tie-break, so results are stable
    across re-runs and oracle-checkable.

    Output: (vec_id, group_id, keep BOOLEAN) for EVERY input vector —
    filter ``keep`` for the deduplicated corpus, or join ``group_id``
    back for provenance. Same contract as the MinHash pipeline's
    group stage, so the two dedup families compose in one plan.
    """
    pairs = semantic_duplicates(
        embeddings, centroids, threshold, id_col=id_col, vec_col=vec_col, assign=assign
    )
    groups = connected_components(
        pairs,
        embeddings.select(id_col),
        max_iter=max_iter,
        id_col=id_col,
        a_col="vec_a",
        b_col="vec_b",
    )
    return groups.select(
        F.col(id_col),
        "group_id",
        (F.col(id_col) == F.col("group_id")).alias("keep"),
    )


def semantic_outliers(
    embeddings: DataFrame,
    centroids: list[list[float]],
    drop_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """Prototypicality filter (the D4 / SSL-prototypes pass that runs
    AFTER SemDeDup, arXiv:2308.12284 / 2206.14486): score each vector
    by cosine similarity to its assigned cluster centroid and drop the
    ``drop_frac`` MOST prototypical per cell — points nearly collinear
    with the cluster center are semantically redundant; the diverse
    tail carries the training signal.

    Per-cell cutoffs are EXACT percentiles over the rounded-6 score
    multiset (Spark ``percentile`` == DuckDB ``quantile_cont``
    bit-identically, same parity contract as ``prep.lm_quality_bands``)
    computed in one tiny aggregation (<= n_cells rows) and broadcast
    back — the corpus never shuffles. Per-row cost is O(n_cells * dim)
    for assignment + scoring, the same class as ``ann.ivf_assign``;
    at very large cell counts fuse both into one ``mapInPandas``
    argmin. Zero-norm vectors score NULL and are kept (nothing is
    "prototypical about" a degenerate point).

    ``assign`` follows :func:`semantic_duplicates`' kernel contract:
    ``"expr"`` is oracle-bit-exact (literal fold per centroid, bounded
    cell counts), ``"arrow"`` fuses assignment and scoring into one
    broadcast-numpy pass per Arrow batch (ULP/rounding-mode
    differences possible on exact boundaries), ``"auto"`` switches to
    arrow above 64 centroids. For CORPUS-SCALED cell counts pass an
    :class:`ann.HKMQuantizer` as ``centroids`` — fused tree descent +
    leaf scoring keeps per-row cost logarithmic in the cell count
    (``assign`` is then ignored).

    Output: (vec_id, cell, proto_score, keep BOOLEAN) for every input
    row; filter ``keep`` for the curated corpus.
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
        cosine_similarity,
    )
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
        HKMQuantizer,
        nearest_cell,
    )

    if not 0.0 < drop_frac < 1.0:
        raise ValueError(f"drop_frac must be in (0, 1), got {drop_frac}")
    if isinstance(centroids, HKMQuantizer):
        # corpus-scaled cell counts: fused tree descent + leaf-cosine
        # scoring, same O(branch * log n_cells) per-row class as
        # semantic_duplicates' HKM path; ``assign`` is ignored.
        proto = _proto_scores_hkm(embeddings, centroids, id_col, vec_col)
    else:
        if assign == "auto":
            assign = "arrow" if len(centroids) > 64 else "expr"
        if assign == "expr":
            vec = F.col(vec_col)
            cos_all = F.array(
                *[
                    F.round(
                        cosine_similarity(vec, F.array(*[F.lit(float(x)) for x in c])),
                        6,
                    )
                    for c in centroids
                ]
            )
            proto = embeddings.select(
                F.col(id_col),
                nearest_cell(vec, centroids).alias("cell"),
                cos_all.alias("cos_all"),
            ).select(
                id_col,
                "cell",
                F.element_at("cos_all", F.col("cell") + 1).alias("proto_score"),
            )
        elif assign == "arrow":
            proto = _proto_scores_arrow(embeddings, centroids, id_col, vec_col)
        else:
            raise ValueError(
                f"assign must be 'auto', 'expr', or 'arrow', got {assign!r}"
            )
    q = 1.0 - float(drop_frac)
    cuts = proto.groupBy("cell").agg(
        F.expr(f"percentile(proto_score, {q!r}D)").alias("cut")
    )
    return proto.join(F.broadcast(cuts), "cell").select(
        id_col,
        "cell",
        "proto_score",
        F.coalesce(F.col("proto_score") <= F.col("cut"), F.lit(True)).alias("keep"),
    )


def semantic_curation(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    drop_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """The full D4 curation recipe (arXiv:2308.12284) as one plan:
    SemDeDup first (drop semantic near-duplicates, keep the smallest-id
    representative per group), THEN the prototypicality filter over the
    survivors (per-cell percentile cutoffs computed on the deduped
    corpus — the paper's ordering, since clusters of clones would
    otherwise drag the cutoff). Returns the curated rows only:
    (vec_id, cell, proto_score).

    Both stages share the centroids (cluster once, curate twice) and
    the ``assign`` kernel contract of :func:`semantic_duplicates` —
    including the :class:`ann.HKMQuantizer` form of ``centroids`` for
    corpus-scaled cell counts.
    """
    kept = semantic_dedup(
        embeddings,
        centroids,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        assign=assign,
    ).filter(F.col("keep")).select(id_col)
    survivors = embeddings.join(kept, id_col, "left_semi")
    return (
        semantic_outliers(
            survivors,
            centroids,
            drop_frac,
            id_col=id_col,
            vec_col=vec_col,
            assign=assign,
        )
        .filter(F.col("keep"))
        .select(id_col, "cell", "proto_score")
    )


def _proto_scores_hkm(
    embeddings: DataFrame,
    quantizer,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """HKM twin of :func:`_proto_scores_arrow`: one Arrow pass per
    batch runs the greedy tree descent (``ann.hkm_descend``) to the
    leaf cell AND scores the rounded-6 cosine against that leaf's
    center — per-row cost O(branch * depth * dim) regardless of leaf
    count. Zero-norm vectors score NULL (kept upstream)."""
    import numpy as np
    import pandas as pd

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import hkm_descend

    _require_integral_id(embeddings, id_col, "HKM quantizer (arrow kernel)")
    leaf = np.asarray(quantizer.leaf_centers(), dtype=np.float64)
    sc = embeddings.sparkSession.sparkContext
    pbc = sc.broadcast(quantizer.payload())
    lbc = sc.broadcast(leaf)

    def score(batches):
        payload = pbc.value
        lc = lbc.value
        ln = np.sqrt((lc * lc).sum(1))
        ln[ln == 0.0] = np.nan
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[vec_col].values).astype(np.float64)
            cell = hkm_descend(m, payload)
            mn = np.sqrt((m * m).sum(1))
            mn[mn == 0.0] = np.nan
            dots = (m * lc[cell]).sum(1)
            proto = np.round(dots / (mn * ln[cell]), 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cell.astype(np.int32),
                    "proto_score": proto,
                }
            )

    return embeddings.mapInPandas(
        score, schema=f"{id_col} long, cell int, proto_score double"
    )


def _proto_scores_arrow(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Fused assignment + prototypicality scoring: one broadcast-numpy
    pass per Arrow batch computes the nearest cell (argmin squared L2)
    AND the rounded-6 cosine to that centroid — the scale kernel for
    corpus-scaled cell counts, where per-centroid fold expressions are
    codegen-prohibitive. Zero-norm vectors score NULL (kept upstream)."""
    import numpy as np
    import pandas as pd

    _require_integral_id(embeddings, id_col, "assign='arrow'")
    cents = np.asarray(centroids, dtype=np.float64)
    cbc = embeddings.sparkSession.sparkContext.broadcast(cents)

    def score(batches):
        c = cbc.value
        cc = (c * c).sum(1)
        cn = np.sqrt(cc)
        cn[cn == 0.0] = np.nan
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[vec_col].values).astype(np.float64)
            mm = (m * m).sum(1)
            dots = m @ c.T
            d2 = mm[:, None] - 2.0 * dots + cc[None, :]
            cell = d2.argmin(axis=1)
            mn = np.sqrt(mm)
            mn[mn == 0.0] = np.nan
            proto = np.round(
                dots[np.arange(len(m)), cell] / (mn * cn[cell]), 6
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cell.astype(np.int32),
                    "proto_score": proto,
                }
            )

    return embeddings.mapInPandas(
        score, schema=f"{id_col} long, cell int, proto_score double"
    )


def _ngram_hash_rows(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, gram_hash) rows — one per DISTINCT word n-gram per doc
    — as one Arrow kernel. Python twin of ``explode(array_distinct(
    word_ngram_multiset)) + portable_hash64``: same whitespace
    tokenize, docs under n tokens yield nothing, distinctness is on
    the gram STRINGS (so a 60-bit hash collision still emits two rows,
    exactly like the expression path), and ``hashlib`` md5 is
    bit-equal to Spark's ``conv(substring(md5..`` (the identity
    relied on at prep.remove_boilerplate_lines). Replaces an
    interpreted per-gram higher-order chain (guide §4.2).

    The output ``doc_id`` keeps the CALLER's id type (string ids pass
    through untouched) — the schema is built from ``df.schema[id_col]``
    exactly like the pq/ivfpq encode kernels, never hardcoded."""
    import hashlib

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, hs = [], []
            for i, text in zip(pdf["__id"].values, pdf["__text"].values):
                toks = [t for t in (text or "").split(" ") if t]
                if len(toks) < n:
                    continue
                grams = {
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                }
                for g in grams:
                    ids.append(i)
                    hs.append(
                        int(
                            hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                    )
            yield pd.DataFrame({"doc_id": ids, "gram_hash": hs})

    return df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).mapInPandas(gen, f"doc_id {id_type}, gram_hash long")


def shared_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    max_doc_freq: int = 16,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level contamination: pairs of documents sharing at
    least ``min_shared`` distinct exact word ``n``-grams, with the
    shared-span count. The scalable analog of suffix-array substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): long exact n-grams stand in for long common
    substrings, and the document pairs they connect are the
    cut-or-drop candidates a substring-dedup pass acts on.

    Plan (three bounded shuffles, no unblocked self-join):
      1. explode distinct per-doc n-grams, keyed by the 60-bit portable
         gram hash (compact 8-byte shuffle key; the DuckDB oracle joins
         on the SAME hash so even a collision cannot diverge);
      2. document-frequency count per gram (map-side partial agg), keep
         grams in [2, max_doc_freq] — singleton grams pair nothing and
         stop-grams (boilerplate) are dropped BEFORE any per-gram state
         accumulates, so no group ever collects more than
         ``max_doc_freq`` ids regardless of corpus size;
      3. join the capped gram set back, collect the (bounded) doc list
         per gram — co-partitioned with the join, no extra exchange —
         and expand the <= C(max_doc_freq, 2) in-bucket pairs;
      4. count distinct shared grams per pair.

    The frequency cap is the standard contamination-pass tradeoff: an
    n-gram shared by more than ``max_doc_freq`` documents is template
    boilerplate, not copied content.
    """
    if max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2")
    # Materialize the gram rows once: the frequency count and the
    # join-back both consume them, and Spark plans self-referencing
    # subtrees twice — without this the whole tokenize+gram+md5 pass
    # ran twice per query (guide §3.3; same fix as
    # cross_corpus_duplicates' signature table).
    exploded = _ngram_hash_rows(docs, n, id_col, text_col).transform(materialize)
    freq = (
        exploded.groupBy("gram_hash")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= F.lit(max_doc_freq)))
        .select("gram_hash")
    )
    capped = exploded.join(freq, "gram_hash")
    per_gram = capped.groupBy("gram_hash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ds") - F.lit(1)),
                    lambda i: F.transform(
                        F.sequence(i + F.lit(1), F.size("ds")),
                        lambda j: F.struct(
                            F.element_at(F.col("ds"), i).alias("a"),
                            F.element_at(F.col("ds"), j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    return (
        # doc_a < doc_b guards the one way hashing could still diverge
        # from the oracle: two DIFFERENT grams of the SAME doc colliding
        # on the 60-bit hash would put the doc in its bucket twice and
        # emit a (x, x) self-pair the oracle's a < b join excludes
        pairs.filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= F.lit(min_shared))
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup, the CUT half of Lee et al. ("Deduplicating
    Training Data Makes Language Models Better"): remove from every
    document each token covered by a word ``n``-gram that appears in at
    least ``min_doc_freq`` distinct documents, and reassemble the
    remaining tokens in original order. :func:`shared_ngram_spans` only
    FLAGS the contaminated pairs; this pass produces the cleaned corpus
    a substring-dedup run actually ships. We cut ALL occurrences (the
    paper's keep-one variant needs a global occurrence order; cutting
    every copy is the deterministic, order-free choice and is the safer
    one for eval decontamination — documented semantics, not a bug).

    Plan (two corpus scans, shuffles bounded by the gram key):
      1. explode per-doc n-gram occurrences as (doc_id, start,
         gram_hash) — the 60-bit portable gram hash is the 8-byte
         shuffle key, and the DuckDB oracle joins on the SAME hash so
         a collision cannot diverge;
      2. document frequency over DISTINCT (doc, gram) rows, keep grams
         with df >= min_doc_freq — one map-side-combined aggregation,
         one count row per gram regardless of how hot it is;
      3. join occurrences to the duplicated-gram set and collect the
         (doc-bounded) sorted start offsets per doc;
      4. row-locally keep tokens not covered by any [start, start+n)
         window and rebuild the text — the corpus text itself never
         shuffles (only 8-byte keys and offsets do).

    Output: (doc_id, clean_text, n_tokens INT, n_removed INT).
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.textstats import (
        word_ngram_multiset,
    )

    if min_doc_freq < 2:
        raise ValueError("min_doc_freq must be >= 2")
    toks = tokenize(F.col(text_col))
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngram_multiset(toks, n)).alias("start", "gram"),
    ).select(
        "doc_id", "start", portable_hash64(F.col("gram")).alias("gram_hash")
    )
    dup_grams = (
        occ.select("doc_id", "gram_hash")
        .distinct()
        .groupBy("gram_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= F.lit(min_doc_freq))
        .select("gram_hash")
    )
    starts = (
        occ.join(dup_grams, "gram_hash")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("start")).alias("starts"))
    )
    # F.sequence(0, -1) DESCENDS instead of returning empty, so the
    # index walk is gated on n_tokens > 0 (empty docs keep empty text)
    kept_toks = F.when(
        F.col("n_tokens") > 0,
        F.transform(
            F.filter(
                F.sequence(F.lit(0), F.col("n_tokens") - F.lit(1)),
                lambda i: ~F.exists(
                    F.col("starts"),
                    lambda st: (st <= i) & (i < st + F.lit(n)),
                ),
            ),
            lambda i: F.element_at(F.col("toks"), i + F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.join(starts.withColumnRenamed("doc_id", "__span_doc_id"),
                  F.col(id_col) == F.col("__span_doc_id"), "left")
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("n_tokens"),
            F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias(
                "starts"
            ),
            toks.alias("toks"),
        )
        # materialize the kept-token array ONCE: Catalyst copies (not
        # CSEs) an expression tree per reference, and kept_toks is
        # needed by both the reassembled text and the removal count
        .select("doc_id", "n_tokens", kept_toks.alias("kept"))
        .select(
            "doc_id",
            F.array_join(F.col("kept"), " ").alias("clean_text"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("n_tokens") - F.size("kept")).cast("int").alias(
                "n_removed"
            ),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    history_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_bits: bytes | None = None,
    bloom_hashes: int = 0,
) -> DataFrame:
    """Genuinely-new rows of an ingest batch against a massive history
    — the per-ingest dedup step of a continuously-crawled corpus, where
    re-running :func:`exact_duplicates` over history + batch would
    re-shuffle 100 TB to dedup a few GB.

    Semantics: keep the smallest-id batch row per content hash
    (within-batch dedup), then drop rows whose hash exists in
    ``history_hashes`` (a ``content_hash`` column — at scale,
    ``spark.table()`` of the artifact written by
    ``tables.write_content_hashes_bucketed``).

    Scale shape: the within-batch window shuffles only the BATCH on an
    8-byte key; the history check is a left_anti join in which a
    content-hash-bucketed history side never exchanges (only the batch
    shuffles into the bucket layout). With ``bloom_bits`` (a filter
    over the history hashes from ``functions.bloom.build_bloom``),
    batch rows the filter rejects are DEFINITELY new and bypass the
    join entirely; only maybe-duplicates enter it — the filter's
    false-positive rate affects cost, never the (exact) result.

    Output: (doc_id, content_hash) of the genuinely-new rows.
    """
    hashed = new_docs.select(
        F.col(id_col).alias("doc_id"),
        portable_hash64(normalize_text(F.col(text_col))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    firsts = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    hist = history_hashes.select("content_hash")
    if bloom_bits is not None:
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import bloom

        mc = bloom.might_contain(new_docs.sparkSession, bloom_bits, bloom_hashes)
        # flagged feeds BOTH the definite branch and the join branch of
        # the union; materialize it once so the window + Arrow probe
        # run once per batch row instead of twice (the batch is small
        # by this operator's contract — that is why history is the big
        # side — so the checkpoint is cheap)
        flagged = firsts.withColumn(
            "__maybe", mc(F.col("content_hash"))
        ).transform(materialize)
        definite = flagged.filter(~F.col("__maybe"))
        survivors = flagged.filter(F.col("__maybe")).join(
            hist, "content_hash", "left_anti"
        )
        return definite.unionByName(survivors).select("doc_id", "content_hash")
    return firsts.join(hist, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


def cross_corpus_ngram_hits(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """N-gram benchmark decontamination (the GPT-3-style "13-gram"
    filter): training documents containing ANY exact word ``n``-gram
    that also appears in the held-out benchmark corpus, with the count
    of distinct shared grams. Catches partial containment — a
    benchmark problem EMBEDDED in a longer page — that whole-document
    MinHash similarity (:func:`cross_corpus_duplicates`) dilutes below
    threshold.

    Plan: the benchmark's distinct gram hashes are one vocab-bounded
    aggregation (the small side — broadcast or hash join, Spark's
    choice); the training side explodes its distinct grams once and
    joins on the compact 8-byte key. Both engines join on the SAME
    hash, so a collision cannot diverge the result.

    Output: (doc_id, n_contaminated_ngrams INT) for flagged train docs.
    """
    bench_grams = (
        _ngram_hash_rows(benchmark, n, id_col, text_col)
        .select("gram_hash")
        .distinct()
    )
    return (
        _ngram_hash_rows(train, n, id_col, text_col)
        .join(bench_grams, "gram_hash")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_contaminated_ngrams"))
        .filter(F.col("n_contaminated_ngrams") >= F.lit(min_hits))
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 16,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every char ``k``-gram, slide a
    window of ``w`` consecutive hashes, and in each window select the
    MINIMUM hash, rightmost position on ties. The selected set has the
    guarantee neither MinHash nor the rolling :func:`doc_fingerprint`
    gives: any shared substring of length >= k + w - 1 contributes at
    least one IDENTICAL (fingerprint, aligned) selection to both
    documents, at ~2/(w+1) the density of the full k-gram set.

    Entirely row-local (one transform over window starts, an integer
    min-reduce per window, distinct) — the corpus text never shuffles;
    only the sparse fingerprint rows do, and downstream pair-finding
    (:func:`winnow_pairs`-style bucket joins) rides an 8-byte key.
    Documents shorter than ``k`` chars yield no k-grams and therefore
    no fingerprints (documented; winnowing is a substring detector,
    not an identity hash).

    Output: (doc_id, pos INT — 0-based char offset of the selected
    k-gram, fp BIGINT in the Mersenne-31 field), distinct per doc.
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
        shingle_hash,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    if w < 1:
        raise ValueError("w must be >= 1")
    text = F.col(text_col)
    hs = F.when(
        F.length(text) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - F.lit(k - 1)),
            lambda i: shingle_hash(F.substring(text, i, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # Encode (hash, 1-based gram index i) as ONE comparable BIGINT,
    #   c = (hash << 31) + (2^31 - i),
    # so a window's rightmost minimum-hash selection is a plain
    # array_min: smaller hash wins the high bits, and on a hash tie
    # the LARGER i (rightmost) has the smaller low part. hash is in
    # the Mersenne-31 field (< 2^31) and i is bounded by 2^31 chars
    # per document, so c < 2^62 never overflows. The same encoding
    # runs in the DuckDB twin (structs defeat its list_distinct).
    M = 1 << 31
    base = docs.select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
    cs = F.zip_with(
        F.col("hs"),
        F.sequence(F.lit(1), F.size("hs")),
        lambda h, i: F.shiftleft(h, 31) + (F.lit(M) - i.cast("bigint")),
    )
    # short gram lists get ONE window over everything they have
    wlen = F.least(F.lit(w), F.size("cs"))
    nw = F.size("cs") - wlen + F.lit(1)
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nw),
            lambda i: F.array_min(F.slice(F.col("cs"), i, wlen)),
        )
    )
    return (
        base.filter(F.size("hs") > 0)
        .select("doc_id", cs.alias("cs"))
        .select("doc_id", F.explode(sel).alias("c"))
        .select(
            "doc_id",
            (F.lit(M) - F.col("c").bitwiseAND(F.lit(M - 1)) - F.lit(1))
            .cast("int")
            .alias("pos"),
            F.shiftright(F.col("c"), 31).alias("fp"),
        )
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 16,
    w: int = 8,
    max_doc_freq: int = 16,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` distinct winnowed
    fingerprints — plagiarism-detector pairing over the MOSS selection,
    with the same boilerplate cap + bounded-bucket pair expansion as
    :func:`shared_ngram_spans` (a fingerprint in more than
    ``max_doc_freq`` docs is template noise, and no bucket ever holds
    more than ``max_doc_freq`` ids regardless of corpus size).

    Output: (doc_a, doc_b, shared_fps INT), doc_a < doc_b.
    """
    if max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2")
    fps = (
        winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
        .select("doc_id", "fp")
        .distinct()
    )
    capped_fp = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= F.lit(max_doc_freq)))
        .select("fp")
    )
    per_fp = fps.join(capped_fp, "fp").groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = per_fp.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ds") - F.lit(1)),
                    lambda i: F.transform(
                        F.sequence(i + F.lit(1), F.size("ds")),
                        lambda j: F.struct(
                            F.element_at(F.col("ds"), i).alias("a"),
                            F.element_at(F.col("ds"), j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    return (
        pairs.filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("shared_fps"))
        .filter(F.col("shared_fps") >= F.lit(min_shared))
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocking_params: MinHashParams | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: directional n-gram containment
    |A∩B| / |A| — the Broder containment coefficient. Jaccard misses
    the quotation/subset relationship a containment pass exists for
    (a short doc fully embedded in a long one scores low Jaccard but
    containment 1.0 in the short->long direction); dedup pipelines use
    it to drop quoted/excerpted docs that survive symmetric scoring.

    Same LSH-blocked candidate generation and exact-verify shape as
    :func:`ngram_jaccard_duplicates` (recall-heavy banding, exact set
    arithmetic on the survivors), with BOTH directions scored and a
    pair kept when either direction clears ``threshold``. NOTE the
    blocking recall caveat inherited from MinHash: a tiny-doc/huge-doc
    pair has low JACCARD, so band-blocking can miss extreme
    containment-only pairs — the standard tradeoff of containment-
    over-LSH (exact containment needs the shared_ngram_spans-style
    inverted index, which :func:`shared_ngram_spans` provides).

    Output: (doc_a, doc_b, containment_ab, containment_ba, jaccard),
    doc_a < doc_b, all scores exact-integer ratios rounded to 6.
    """
    params = blocking_params or MinHashParams(k_shingle=n, bands=64)
    grams = docs.select(
        F.col(id_col),
        word_shingles(tokenize(F.col(text_col)), n).alias("shingles"),
    )
    sigs = minhash.with_signature(grams, params).select(id_col, "sig")
    bands = lsh.bands_table(sigs, params, id_col)
    pairs = lsh.band_pair_candidates(bands, min_bands=1, id_col=id_col)
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    ratio = lambda num, den: F.when(  # noqa: E731 — 0-gram docs score 0
        den == 0, F.lit(0.0)
    ).otherwise(num / den)
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                ratio(inter, F.size("sh_a").cast("double")), 6
            ).alias("containment_ab"),
            F.round(
                ratio(inter, F.size("sh_b").cast("double")), 6
            ).alias("containment_ba"),
            F.round(
                jaccard_arrays(F.col("sh_a"), F.col("sh_b")), 6
            ).alias("jaccard"),
        )
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )


def containment_pairs_exact(
    docs: DataFrame,
    n: int = 3,
    max_doc_freq: int = 64,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT directional containment — the blocking-recall closer for
    :func:`containment_pairs`: a tiny doc fully embedded in a huge one
    has low Jaccard, so MinHash band-blocking can miss it entirely;
    this mode rides the :func:`shared_ngram_spans` df-capped inverted
    index instead, where ONE shared gram suffices to pair, so every
    extreme-containment pair whose shared grams are not boilerplate is
    found deterministically.

    Semantics: grams are the same distinct word ``n``-shingles as
    ``containment_pairs`` (short docs fall back to one whole-doc
    shingle), keyed by the portable 60-bit hash on both engines; grams
    with document frequency above ``max_doc_freq`` are boilerplate and
    excluded from BOTH the intersection and the per-doc set sizes (the
    standard contamination-pass cap — and what keeps every inverted
    bucket bounded at corpus scale). containment_ab = |A∩B| / |A| over
    the surviving grams, exact integer ratios rounded to 6; a pair is
    reported when either direction clears ``threshold``.

    Plan shape (scale-safe like shared_ngram_spans): only 8-byte gram
    hashes shuffle, no bucket collects more than ``max_doc_freq`` ids,
    pair expansion is <= C(max_doc_freq, 2) per bucket, and the size
    join keys on doc ids of the already-bounded pair set.
    """
    if max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2")
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(tokenize(F.col(text_col)), n).alias("sh"),
    )
    exploded = (
        grams.select("doc_id", F.explode("sh").alias("gram"))
        .select("doc_id", portable_hash64(F.col("gram")).alias("gram_hash"))
        .distinct()  # two grams of one doc colliding on the 60-bit hash
    )
    dfreq = exploded.groupBy("gram_hash").agg(F.count("*").alias("df"))
    kept = exploded.join(
        dfreq.filter(F.col("df") <= F.lit(max_doc_freq)).select("gram_hash"),
        "gram_hash",
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairable = kept.join(
        dfreq.filter(
            (F.col("df") >= 2) & (F.col("df") <= F.lit(max_doc_freq))
        ).select("gram_hash"),
        "gram_hash",
    )
    per_gram = pairable.groupBy("gram_hash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ds") - F.lit(1)),
                    lambda i: F.transform(
                        F.sequence(i + F.lit(1), F.size("ds")),
                        lambda j: F.struct(
                            F.element_at(F.col("ds"), i).alias("a"),
                            F.element_at(F.col("ds"), j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    shared = (
        pairs.filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared").cast("double") / F.col("sz_a").cast("double"), 6
            ).alias("containment_ab"),
            F.round(
                F.col("shared").cast("double") / F.col("sz_b").cast("double"), 6
            ).alias("containment_ba"),
            F.round(
                F.col("shared").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's DISTINCT
    word ``n``-grams whose corpus-FIRST occurrence (minimum doc_id) is
    this document — the train-set internal-duplication signal of the
    substring-dedup literature (a low-novelty doc is mostly restating
    earlier corpus content; Lee et al. measure exactly this overlap
    before cutting it). The ordering is the stable id order, matching
    every other first-wins rule in the engine (§4.4 determinism).

    Scale shape: one tokenize pass explodes distinct per-doc grams on
    the compact 60-bit portable hash (the same 8-byte shuffle key as
    :func:`shared_ngram_spans`; the oracle joins on the same hash so a
    collision cannot diverge the two sides); the first-occurrence agg
    is a map-side-combined min; the join back is co-partitioned with
    it; the per-doc rollup is one more bounded agg. No per-gram state
    beyond the single min doc_id — boilerplate mega-grams cost one
    counter, not a collected list.

    Output: (doc_id, n_grams INT, novel_grams INT, novel_frac DOUBLE
    rounded-6) for docs with at least one n-gram (< n tokens yields
    none, matching :func:`~..functions.textstats.word_ngram_multiset`).
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.textstats import (
        word_ngram_multiset,
    )

    toks = tokenize(F.col(text_col))
    grams = F.array_distinct(word_ngram_multiset(toks, n))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram")
    ).select("doc_id", portable_hash64(F.col("gram")).alias("gram_hash"))
    first = exploded.groupBy("gram_hash").agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        exploded.join(first, "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("int")
            .alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            F.round(
                F.col("novel_grams").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novel_frac"),
        )
    )
