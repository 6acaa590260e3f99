"""LSH banding index + candidate joins + top-k (SURVEY §2.2 P1-P4,
§2.3 J1/J3, §2.4 A3-A4, §2.6 T1-T3, §2.7 E1).

The reference builds per-worker mutable hash tables
(``app/src/minhash_lsh.py:32-57``) and probes them with a scatter-
gather RPC fan-out (``app/src/query_service.py:139-196``). Here the
"index" is an immutable DataFrame::

    bands(doc_id BIGINT, band_id INT, band_hash BIGINT)

and a query is ONE Spark job: broadcast the (≤32-row) query band set,
hash equi-join on (band_id, band_hash), distinct doc_id, join back to
signatures, score by estimated Jaccard, TakeOrderedAndProject top-k.
The reference's per-worker partial top-m + global merge (reference
``app/src/worker_tasks.py:166-168`` + ``query_service.py:186-192``) is
exactly what Spark's TakeOrderedAndProject already does per-partition.

Determinism deltas vs the reference are per SURVEY §4.4: bucket caps
keep smallest doc_ids; ties order by (score DESC, doc_id ASC).

Scale notes: the bands table is the only shuffled artifact (one explode
+ optional repartition on band_hash at build time); single-query probes
are broadcast joins (zero shuffle); batch probes shuffle on
(band_id, band_hash) where AQE skew-join splits mega-buckets.
"""

from __future__ import annotations

from dataclasses import replace
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
    est_jaccard,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    band_hash,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.materialize import (
    materialize,
)


def bands_table(sigs: DataFrame, params: MinHashParams, id_col: str = "doc_id") -> DataFrame:
    """sigs(doc_id, sig) -> bands(doc_id, band_id, band_hash).

    Reference ``app/src/minhash_lsh.py:42-57`` (band slices -> bucket
    keys). One posexplode; band_hash over the comma-joined slice keeps
    bucket partitioning identical to the reference's byte-key scheme.
    Applies the deterministic bucket cap when
    ``params.max_bucket_size`` is set (SURVEY §4.4 delta 1).
    """
    r = params.rows_per_band
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(params.bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band_id"),
            band_hash(
                F.concat_ws(
                    ",", F.transform(F.slice("sig", b * r + 1, r), lambda v: v.cast("string"))
                ),
                params.hash_family,
            ).alias("band_hash"),
        ),
    )
    out = sigs.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    if params.max_bucket_size is not None:
        out = cap_buckets(out, params.max_bucket_size, id_col)
    return out


def cap_buckets(bands: DataFrame, cap: int, id_col: str = "doc_id") -> DataFrame:
    """Keep the ``cap`` smallest ids per (band_id, band_hash) bucket.

    Deterministic replacement for the reference's insertion-order cap
    (``app/src/minhash_lsh.py:50-57``, max_bucket_size=5000).
    """
    w = Window.partitionBy("band_id", "band_hash").orderBy(F.col(id_col).asc())
    return (
        bands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def query_bands(query_sigs: DataFrame, params: MinHashParams, id_col: str = "query_id") -> DataFrame:
    """Band rows for a set of query signatures (same banding as the
    corpus). Never capped: the bucket cap bounds the corpus side, and
    capping queries would drop every query past the cap that shares a
    bucket with the others."""
    return bands_table(query_sigs, replace(params, max_bucket_size=None), id_col)


def candidates(
    bands: DataFrame,
    q_bands: DataFrame,
    broadcast_query: bool = True,
    query_id_col: str = "query_id",
    max_candidates: int | None = None,
) -> DataFrame:
    """LSH candidate probe (J1): union of bucket members over matching bands.

    Reference ``app/src/minhash_lsh.py:70-96`` — per-band bucket lookup
    + set-union dedup. As a join: inner equi-join on
    (band_id, band_hash), then distinct (query_id, doc_id).
    The reference's order-dependent ``max_candidates`` early exit
    (SURVEY §4.4 delta 2) is redefined deterministically: when set,
    keep the ``max_candidates`` smallest doc_ids per query AFTER the
    full band join (a rank window — WindowGroupLimit prunes it
    map-side, so the cap also bounds the scoring stage's shuffle).
    """
    q = q_bands.select(query_id_col, "band_id", "band_hash")
    if broadcast_query:
        q = F.broadcast(q)
    cand = (
        bands.join(q, ["band_id", "band_hash"], "inner")
        .select(query_id_col, "doc_id")
        .distinct()
    )
    if max_candidates is not None:
        w = Window.partitionBy(query_id_col).orderBy(F.col("doc_id").asc())
        cand = (
            cand.withColumn("__cr", F.row_number().over(w))
            .filter(F.col("__cr") <= max_candidates)
            .drop("__cr")
        )
    return cand


def score_candidates(
    cand: DataFrame,
    sigs: DataFrame,
    query_sigs: DataFrame,
    params: MinHashParams,
    query_id_col: str = "query_id",
    broadcast_query: bool = True,
) -> DataFrame:
    """Attach estimated-Jaccard scores (A4) to candidate pairs."""
    qs = query_sigs.select(
        F.col(query_id_col), F.col("sig").alias("__qsig")
    )
    if broadcast_query:
        qs = F.broadcast(qs)
    return (
        cand.join(sigs, "doc_id")
        .join(qs, query_id_col)
        .select(
            query_id_col,
            "doc_id",
            est_jaccard(F.col("sig"), F.col("__qsig"), params.num_perm).alias("score"),
        )
    )


def _plan_max_rows(df: DataFrame) -> int | None:
    """Upper bound on the row count, read from the optimized logical
    plan with NO Spark job (plan analysis only). Exact for
    LocalRelation/VALUES and limit-capped plans; None when the plan
    cannot bound it. A bound <= SMALL_QUERY_FOLD proves the fold
    regime without ever counting."""
    try:
        mr = df._jdf.queryExecution().optimizedPlan().maxRows()
        return int(mr.get()) if mr.isDefined() else None
    except Exception:  # pragma: no cover — JVM internals unavailable
        return None


def score_candidates_vectorized(
    cand: DataFrame,
    sigs: DataFrame,
    query_sigs: DataFrame,
    params: MinHashParams,
    query_id_col: str = "query_id",
    qrows: list | None = None,
    grouped: bool = False,
) -> DataFrame:
    """Arrow-vectorized candidate scoring for driver-sized query sets.

    The pair-join scorer ships BOTH 1 KB signature arrays per
    candidate pair through the fold (measured 860 MB through the
    scoring stage for 421k pairs at sf0.1). This variant mirrors the
    reference's vectorized scoring (``app/src/minhash_lsh.py:111-113``:
    one numpy broadcast-compare of the candidate matrix against the
    query): group candidates by doc (each corpus signature crosses the
    stage ONCE), broadcast the query signature matrix, and compute
    match fractions with numpy inside mapInPandas. Match counts are
    integer sums, so scores are bit-identical to the built-in fold at
    any summation order — oracle-safe. Measured 2.3x end-to-end on the
    sf0.1 batch-100 path; the gap widens with candidate fan-out.

    Requires the query set to fit on the driver (same condition as
    broadcast_query); use score_candidates for unbounded query sets.
    ``qrows``: pre-collected ``(query_id, sig)`` rows — pass them when
    the caller already collected the query side (lsh_topk's default
    path does) to avoid a second collect job here.

    ``grouped``: ``cand`` already carries one row per doc with the
    query-id list as ``__qids`` (e.g. a ``collect_set`` straight off
    the band join) — skips the per-pair ``distinct`` + ``groupBy``
    here, folding the pair dedup into the caller's single aggregation
    (guide §2.4: two operations keyed the same way share one
    exchange).
    """
    import numpy as np
    import pandas as pd

    spark = cand.sparkSession
    num_perm = params.num_perm
    if qrows is None:
        qrows = query_sigs.select(query_id_col, "sig").collect()
    qpos = {int(r[query_id_col]): i for i, r in enumerate(qrows)}
    qmat = np.array([r["sig"] for r in qrows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qpos, qmat))

    def score_iter(batches):
        qpos_l, qmat_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sig_mat = np.vstack(pdf["sig"].values).astype(np.int64)
            out_q, out_d, out_s = [], [], []
            for i, (did, qlist) in enumerate(
                zip(pdf["doc_id"].values, pdf["__qids"].values)
            ):
                idx = np.fromiter(
                    (qpos_l[int(q)] for q in qlist), dtype=np.int64, count=len(qlist)
                )
                scores = (qmat_l[idx] == sig_mat[i]).sum(axis=1) / num_perm
                out_q.append(np.asarray(qlist, dtype=np.int64))
                out_d.append(np.full(len(qlist), did, dtype=np.int64))
                out_s.append(scores)
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    "doc_id": np.concatenate(out_d),
                    "score": np.concatenate(out_s),
                }
            )

    if grouped:
        cand_by_doc = cand
    else:
        cand_by_doc = cand.groupBy("doc_id").agg(
            F.collect_list(query_id_col).alias("__qids")
        )
    with_sig = cand_by_doc.join(sigs, "doc_id").select("doc_id", "__qids", "sig")
    return with_sig.mapInPandas(
        score_iter, schema=f"{query_id_col} long, doc_id long, score double"
    )


def _read_sigs(sigs: DataFrame, id_col: str = "doc_id", max_rows: int | None = None):
    """One Arrow read of ``sigs`` -> ``(ids, valid, matrix)``: every id
    ascending, a mask of the ids whose signature is not null, and the
    matrix of those signatures in id order. With ``max_rows`` the read
    is capped at ``max_rows + 1`` rows and None comes back when the
    table holds more, so one bounded read both decides the driver-fit
    gate and feeds the matrix.
    """
    import numpy as np

    q = sigs.select(id_col, "sig")
    if max_rows is not None:
        q = q.limit(max_rows + 1)
    t = q.toArrow()
    if max_rows is not None and t.num_rows > max_rows:
        return None
    ids = t.column(id_col).to_numpy()
    order = np.argsort(ids, kind="stable")
    valid = t.column("sig").is_valid().to_numpy()[order]
    rows = t.column("sig").to_numpy()[order][valid]
    mat = np.vstack(rows) if len(rows) else np.empty((0, 0), dtype=np.int64)
    return ids[order], valid, mat


class IndexExport(NamedTuple):
    """The in-memory LSH index: the sigs/bands tables stacked into
    matrices, as each reference worker stacks its shard into one local
    banding index (``app/src/worker_tasks.py:84-117``)."""

    ids: object  # (N,) int64, ascending
    sigs: object  # (N, num_perm) int64, row i <-> ids[i]
    hashes: object  # (N, bands) int64 band keys
    present: object  # (N, bands) bool: False where the bucket cap removed the pair


def export_index(
    sigs: DataFrame, bands: DataFrame, n_bands: int, max_rows: int | None = None
) -> IndexExport | None:
    """Export the sigs/bands tables to one :class:`IndexExport`.

    One Arrow read of each table. Null signatures score null against
    everything, so they are dropped together with their band rows. A
    band row whose doc_id has no signature row at all (the
    append_to_index crash window) raises: mapping it anyway would put
    another document's row into the bucket. A (doc, band) pair that the
    bucket cap removed is absent (``present`` False). ``max_rows`` is
    :func:`_read_sigs`' bounded read; None comes back past it, before
    the bands are read.
    """
    import numpy as np

    read = _read_sigs(sigs, max_rows=max_rows)
    if read is None:
        return None
    ids, valid, mat = read
    t = bands.select("doc_id", "band_id", "band_hash").toArrow()
    doc = t.column("doc_id").to_numpy()
    row = np.searchsorted(ids, doc)
    orphan = row >= len(ids)
    orphan[~orphan] = ids[row[~orphan]] != doc[~orphan]
    if orphan.any():
        raise ValueError(
            f"banded doc_ids {np.unique(doc[orphan])[:5].tolist()} "
            "have no signature row — partial append? run "
            "sources.tables.validate_index and repair before export"
        )
    keep = valid[row]
    row = (np.cumsum(valid) - 1)[row[keep]]
    band = t.column("band_id").to_numpy()[keep]
    hashes = np.zeros((len(mat), n_bands), dtype=np.int64)
    present = np.zeros((len(mat), n_bands), dtype=bool)
    hashes[row, band] = t.column("band_hash").to_numpy()[keep]
    present[row, band] = True
    return IndexExport(ids[valid], mat, hashes, present)


def band_buckets(hashes, present, band: int):
    """One band's buckets: ``(rows, keys, starts, sizes)``, the band's
    present rows stably sorted by key (so each bucket's members stay in
    ascending id order), and each bucket's start and size in that
    order. The one grouping the self-join kernel and the serving export
    share."""
    import numpy as np

    rows = np.flatnonzero(present[:, band])
    keys = hashes[rows, band]
    order = np.argsort(keys, kind="stable")
    rows, keys = rows[order], keys[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]][: len(keys)])
    sizes = np.diff(np.r_[starts, len(keys)])
    return rows, keys, starts, sizes


def broadcast_sig_matrix(sigs: DataFrame, id_col: str = "doc_id"):
    """Collect a signature table into a broadcast (ids, matrix) pair,
    sorted by id, for the matrix pair scorer. Null signatures are
    dropped.

    Part of the PREBUILT index (reference analog: the in-memory numpy
    index its 6.1 ms/query figure assumes, built once at startup,
    ``benchmarks/benchmark_runner.py:226``) — build it outside the
    per-query path. Caller guarantees driver fit (the
    :data:`VECTORIZE_MAX_SIGS` regime); beyond that, use the join
    scorers, which never materialize the corpus on the driver.
    """
    ids, valid, mat = _read_sigs(sigs, id_col)
    return sigs.sparkSession.sparkContext.broadcast((ids[valid], mat))


def score_topk_candidates_matrix(
    cand: DataFrame,
    query_sigs: DataFrame,
    corpus_matrix_bc,
    params: MinHashParams,
    k: int,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Low-latency batch scorer: est-Jaccard over DEDUPED candidate
    pairs against broadcast query + corpus signature matrices, with a
    per-partition partial top-k.

    One narrow Arrow stage: each partition scores its (query_id,
    doc_id) pairs with a single vectorized numpy compare and emits only
    its local top-k per query, so the downstream global top-k window
    shuffles O(partitions * queries * k) rows instead of every scored
    pair. Partial-then-global top-k is lossless: every global top-k row
    is within its own partition's top-k for that query. Match counts
    are integer sums — scores bit-identical to the JVM fold, oracle-
    safe; local ordering (score DESC, id ASC) matches the global
    window, so ties stay deterministic.

    Requires ``cand`` pre-deduped (distinct pairs) and a corpus matrix
    from :func:`broadcast_sig_matrix` built over the SAME sigs that
    built the bands (validated per batch).
    """
    import numpy as np
    import pandas as pd

    spark = cand.sparkSession
    num_perm = params.num_perm
    qrows = query_sigs.select(query_id_col, "sig").collect()
    qorder = sorted(range(len(qrows)), key=lambda i: qrows[i][query_id_col])
    qids = np.array([qrows[i][query_id_col] for i in qorder], dtype=np.int64)
    qmat = np.array([qrows[i]["sig"] for i in qorder], dtype=np.int64)
    qbc = spark.sparkContext.broadcast((qids, qmat))

    def score_iter(batches):
        qids_l, qmat_l = qbc.value
        cids_l, cmat_l = corpus_matrix_bc.value
        parts = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = pdf[query_id_col].values.astype(np.int64)
            d = pdf["doc_id"].values.astype(np.int64)
            qi = np.searchsorted(qids_l, q)
            di = np.searchsorted(cids_l, d)
            if not (np.array_equal(cids_l[di], d) and np.array_equal(qids_l[qi], q)):
                raise ValueError(
                    "corpus/query matrix does not cover the candidate ids; "
                    "rebuild broadcast_sig_matrix from the sigs that built the bands"
                )
            scores = (qmat_l[qi] == cmat_l[di]).sum(axis=1) / num_perm
            parts.append(
                pd.DataFrame({query_id_col: q, "doc_id": d, "score": scores})
            )
        if not parts:
            return
        pdf = pd.concat(parts)
        pdf = pdf.sort_values(
            [query_id_col, "score", "doc_id"], ascending=[True, False, True]
        )
        yield pdf.groupby(query_id_col, sort=False).head(k)

    return cand.mapInPandas(
        score_iter, schema=f"{query_id_col} long, doc_id long, score double"
    )


def topk(scored: DataFrame, k: int, query_id_col: str = "query_id") -> DataFrame:
    """Per-query top-k with deterministic ties (score DESC, doc_id ASC).

    Reference T1/T3 (``app/src/minhash_lsh.py:115-116`` +
    ``app/src/query_service.py:186-192``). Ranking window per query —
    for the single-query case Spark collapses this to
    TakeOrderedAndProject.
    """
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(query_id_col, "doc_id", "score", F.col("__rank").alias("rank"))
    )


#: At or below this many broadcast queries the JVM fold scorer beats
#: the Arrow-vectorized one (candidate sets are small; no Python
#: workers spawn). Above it the broadcast-matrix scorer wins and the
#: gap grows with candidate fan-out.
SMALL_QUERY_FOLD = 8


def lsh_topk(
    sigs: DataFrame,
    bands: DataFrame,
    query_sigs: DataFrame,
    params: MinHashParams,
    k: int = 10,
    broadcast_query: bool = True,
    n_queries: int | None = None,
    corpus_matrix=None,
) -> DataFrame:
    """Full online-query path (reference ``POST /query``) as one job.

    query_sigs(query_id, sig) -> (query_id, doc_id, score, rank).
    For a handful of queries the query side is broadcast (zero
    shuffle); WITHOUT a corpus_matrix, scoring is the pure-JVM fold
    below ``SMALL_QUERY_FOLD`` queries (no Python workers) and
    Arrow-vectorized against the broadcast query matrix above it
    (measured 2.2x at batch 100). For unbounded query sets pass
    broadcast_query=False: the band join shuffles on
    (band_id, band_hash) with AQE skew handling, with the pair-join
    scorer.

    ``n_queries``: caller-side query-count hint. Without it the count
    comes free from the optimized plan when it bounds the query set
    (VALUES / limit-capped plans), and otherwise from one collect of
    the query rows that the vectorized scorer then reuses — so only
    the fold-regime (<= SMALL_QUERY_FOLD queries) unbounded-plan case
    pays an extra tiny job; pass the hint (or ``.limit(n)`` the query
    set) there on latency-sensitive paths.

    ``corpus_matrix``: prebuilt :func:`broadcast_sig_matrix` over
    ``sigs``. When given, scoring skips the per-doc signature join
    entirely — one narrow Arrow stage with per-partition partial top-k
    (:func:`score_topk_candidates_matrix`) — for EVERY query count:
    passing the matrix is the caller's signal that this is the
    low-latency serving configuration, and the matrix scorer wins
    there even at n=1 whenever candidate sets are non-trivial (the
    fold reads the 1 KB signature per candidate through a join; the
    matrix scorer reads broadcast memory — measured 676 -> 502 ms on
    a 20k-doc point query with ~19.7k candidates). Leave None at
    corpus scales beyond :data:`VECTORIZE_MAX_SIGS`.
    """
    qb = query_bands(query_sigs, params)
    cand = candidates(bands, qb, broadcast_query, max_candidates=params.max_candidates)
    if not broadcast_query:
        scored = score_candidates(
            cand, sigs, query_sigs, params, broadcast_query=broadcast_query
        )
        return topk(scored, k)
    if corpus_matrix is not None:
        scored = score_topk_candidates_matrix(
            cand, query_sigs, corpus_matrix, params, k
        )
        return topk(scored, k)
    # Scorer choice without a dedicated count job: when the optimized
    # plan bounds the query set at <= SMALL_QUERY_FOLD rows (VALUES /
    # LocalRelation / limit-capped sets) the fold regime is proven with
    # zero jobs; otherwise ONE collect of the (driver-sized,
    # broadcast-contract) query rows both decides the scorer and feeds
    # the vectorized path, which needed exactly that collect anyway.
    n_q = n_queries
    qrows = None
    if n_q is None:
        bound = _plan_max_rows(query_sigs)
        if bound is not None and bound <= SMALL_QUERY_FOLD:
            n_q = bound
        else:
            qrows = query_sigs.select("query_id", "sig").collect()
            n_q = len(qrows)
    if n_q <= SMALL_QUERY_FOLD:
        scored = score_candidates(cand, sigs, query_sigs, params)
    else:
        scored = score_candidates_vectorized(
            cand, sigs, query_sigs, params, qrows=qrows
        )
    return topk(scored, k)


def min_matching_bands(threshold: float, params: MinHashParams) -> int:
    """Exact lower bound on full-band matches implied by an estimated-
    Jaccard threshold.

    A pair with score >= t has >= ceil(t * num_perm) equal signature
    positions. Spread over ``bands`` bands of ``rows`` rows, at most
    ``bands * (rows - 1)`` equal positions can avoid completing a band,
    so the pair must share at least ``ceil(t*P) - bands*(rows-1)`` full
    bands. Pure pigeonhole — a necessary condition, never drops a true
    result — so filtering candidate pairs on matching-band count before
    the (expensive) signature fold is lossless.
    """
    import math

    need = math.ceil(threshold * params.num_perm)
    slack = params.bands * (params.rows_per_band - 1)
    return max(1, need - slack)


def band_pair_candidates(
    bands: DataFrame,
    min_bands: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs from a band-bucket self-match: (doc_a, doc_b)
    with doc_a < doc_b sharing >= ``min_bands`` (band_id, band_hash)
    buckets.

    NOT a self-join: buckets are aggregated to member lists and pairs
    are emitted by a nested explode. Semantically identical to the
    equi-self-join + groupBy form, but the quadratic row generation is
    explicitly repartitioned first — under AQE the bucket aggregation
    is tiny (KBs), gets coalesced to ~1 partition, and the downstream
    O(sum |bucket|^2) explosion would otherwise run nearly
    single-threaded (measured 14.1s -> 2.7s at sf0.1, 36.9M generated
    rows). Shuffling bucket rows is cheap (one row per bucket); the
    explosion then spreads across 8x defaultParallelism tasks.
    """
    n = bands.sparkSession.sparkContext.defaultParallelism * 8
    memb = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__m"))
        .filter(F.size("__m") >= 2)
        .repartition(n, F.col("band_id"), F.col("band_hash"))
    )
    return (
        memb.select(F.posexplode("__m").alias("__i", "doc_a"), "__m")
        .select(
            "doc_a",
            F.explode(F.slice("__m", F.col("__i") + 2, F.size("__m"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__nb"))
        .filter(F.col("__nb") >= min_bands)
        .select("doc_a", "doc_b")
    )


def _score_pairs_fold(
    pairs: DataFrame, sigs: DataFrame, params: MinHashParams, threshold: float
) -> DataFrame:
    """Score (doc_a, doc_b) pairs with the JVM est-Jaccard fold."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est_jaccard(F.col("sig_a"), F.col("sig_b"), params.num_perm).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


#: Above this many distinct signatures the band kernel is skipped
#: (matrix no longer driver/executor-friendly) and the join+fold runs.
VECTORIZE_MAX_SIGS = 200_000

#: Within-bucket pairs the band kernel takes per numpy step. Bounds a
#: task's working set (id gathers, band and signature compares) however
#: large the biggest bucket is.
PAIR_CHUNK = 1 << 14


def _band_kernel_pairs(
    spark, index: IndexExport, params: MinHashParams, threshold: float
) -> DataFrame:
    """The broadcast-regime self-join as ONE narrow Arrow stage.

    Each task takes whole bands (``spark.range`` over band ids: no
    Exchange). Per band it groups the buckets (:func:`band_buckets`),
    enumerates the within-bucket pairs with numpy, and keeps a pair
    only at the LOWEST band where it shares a bucket and only if it
    shares >= :func:`min_matching_bands` buckets: the band-collision
    count happens where the buckets are (C2Net, ICDE 2019), so the
    output is distinct with no pair shuffle. Survivors are scored
    against the broadcast signature matrix and filtered at the
    threshold. Match counts are integer sums, so scores are
    bit-identical to the JVM fold — oracle-safe.
    """
    import numpy as np
    import pandas as pd

    sc = spark.sparkContext
    n_bands, num_perm = params.bands, params.num_perm
    min_bands = min_matching_bands(threshold, params)
    chunk = PAIR_CHUNK
    index_bc = sc.broadcast(index)

    def band_pairs(band, ids, mat, hashes, present):
        rows, _keys, starts, sizes = band_buckets(hashes, present, band)
        # partners after each position within its bucket
        after = np.repeat(starts + sizes, sizes) - np.arange(len(rows)) - 1
        pos = np.flatnonzero(after)
        after = after[pos]
        first = np.cumsum(after) - after
        total = int(after.sum())
        for k0 in range(0, total, chunk):
            k = np.arange(k0, min(k0 + chunk, total))
            i = np.searchsorted(first, k, side="right") - 1
            ra = rows[pos[i]]
            rb = rows[pos[i] + 1 + k - first[i]]
            shared = (hashes[ra] == hashes[rb]) & present[ra] & present[rb]
            keep = (shared.argmax(axis=1) == band) & (shared.sum(axis=1) >= min_bands)
            ra, rb = ra[keep], rb[keep]
            score = (mat[ra] == mat[rb]).sum(axis=1) / num_perm
            hit = score >= threshold
            if hit.any():
                yield pd.DataFrame(
                    {"doc_a": ids[ra[hit]], "doc_b": ids[rb[hit]], "score": score[hit]}
                )

    def pairs_iter(batches):
        local = index_bc.value
        for pdf in batches:
            for band in pdf["id"].to_numpy():
                yield from band_pairs(int(band), *local)

    n_tasks = max(1, min(n_bands, sc.defaultParallelism))
    return spark.range(0, n_bands, 1, n_tasks).mapInPandas(
        pairs_iter, "doc_a long, doc_b long, score double"
    )


def _self_join_pairs_raw(
    bands: DataFrame,
    sigs: DataFrame,
    params: MinHashParams,
    threshold: float,
    n_docs: int | None = None,
) -> DataFrame:
    """The uncompressed band-bucket self-match (see self_join_pairs)."""
    if n_docs is None or n_docs <= VECTORIZE_MAX_SIGS:
        # one bounded read decides the gate and IS the matrix input
        index = export_index(sigs, bands, params.bands, max_rows=VECTORIZE_MAX_SIGS)
        if index is not None:
            return _band_kernel_pairs(sigs.sparkSession, index, params, threshold)
    pairs = band_pair_candidates(bands, min_matching_bands(threshold, params))
    return _score_pairs_fold(pairs, sigs, params, threshold)


def self_join_pairs(
    bands: DataFrame,
    sigs: DataFrame,
    params: MinHashParams,
    threshold: float = 0.5,
    compress_identical: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """LSH self-join: near-duplicate candidate pairs above a similarity
    threshold (M6 dedup building block).

    ``n_docs``: caller-side corpus-size hint for the vectorize gate
    (without it, one limited collect decides the gate AND feeds the
    broadcast matrix — no separate count job). With
    ``compress_identical`` the gate counts DISTINCT signatures, so the
    hint is only consulted when it already rules the broadcast scorer
    out (hint > VECTORIZE_MAX_SIGS implies distinct sigs may still fit
    — the count then runs as before).

    Returns (doc_a, doc_b, score) with doc_a < doc_b, distinct pairs.

    Scale notes: up to :data:`VECTORIZE_MAX_SIGS` signatures the
    signature and band-hash matrices are broadcast and one band-parallel
    kernel enumerates, dedups and scores the pairs with no shuffle
    (:func:`_band_kernel_pairs`). Beyond it the classic LSH dedup shape
    runs: shuffle on (band_id, band_hash); the pair dedup is a groupBy
    that *counts matching bands*. Both regimes prune with
    :func:`min_matching_bands` before any signature is compared.

    ``compress_identical`` (default on) runs the quadratic part on one
    representative per DISTINCT signature and expands groups back at
    the end — lossless, because identical signatures band identically
    and score est-Jaccard 1.0 against each other and identically
    against everyone else. Dup-heavy corpora (the norm for web-scale
    text) collapse their densest clusters this way: measured 12x on the
    sf0.1 fixture (2.8M output pairs), identical output hash. The
    group build is one extra groupBy on the (small) sig column; at
    100 TB it is the difference between a band join on unique content
    vs one inflated quadratically by every exact-dup cluster.

    Losslessness REQUIRES an uncapped bands table: under
    ``params.max_bucket_size`` the cap keeps the smallest doc_ids per
    bucket, and dropping a group representative while keeping a
    non-representative member changes which pairs the representative
    path can see. Compression is therefore disabled automatically when
    the params carry a bucket cap.
    """
    if params.max_bucket_size is not None:
        compress_identical = False
    if not compress_identical:
        return _self_join_pairs_raw(bands, sigs, params, threshold, n_docs)
    # distinct-sig count <= corpus count, so an under-max hint stays
    # valid for the representative set; an over-max hint proves nothing
    # about distinct sigs and falls back to counting.
    rep_hint = n_docs if n_docs is not None and n_docs <= VECTORIZE_MAX_SIGS else None
    # Materialize the signature groups once: FIVE consumers replan this
    # aggregation otherwise (the rep-band semi join, the scorer's
    # bounded collect, BOTH sides of the cross expansion, and the
    # intra-group pairs) — at corpus scale each replan is a full
    # signature-table aggregation (guide §3.3; per-invocation, see
    # functions.materialize). Null signatures are left out, as the
    # export drops them: grouped, they would pair at score 1.0.
    groups = materialize(
        sigs.filter(F.col("sig").isNotNull()).groupBy("sig").agg(
            F.min("doc_id").alias("doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
    )
    rep_sigs = groups.select("doc_id", "sig")
    rep_bands = bands.join(
        rep_sigs.select("doc_id"), "doc_id", "left_semi"
    )
    rep_pairs = _self_join_pairs_raw(rep_bands, rep_sigs, params, threshold, rep_hint)
    memb = groups.select(F.col("doc_id").alias("rep"), "members")
    cross = (
        rep_pairs.join(
            memb.select(F.col("rep").alias("doc_a"), F.col("members").alias("__ma")),
            "doc_a",
        )
        .join(
            memb.select(F.col("rep").alias("doc_b"), F.col("members").alias("__mb")),
            "doc_b",
        )
        .select(F.explode("__ma").alias("__x"), "__mb", "score")
        .select("__x", F.explode("__mb").alias("__y"), "score")
        .select(
            F.least("__x", "__y").alias("doc_a"),
            F.greatest("__x", "__y").alias("doc_b"),
            "score",
        )
    )
    intra = (
        groups.filter(F.size("members") > 1)
        .select(F.posexplode("members").alias("__i", "__x"), "members")
        .select(
            "__x",
            F.explode(F.slice("members", F.col("__i") + 2, F.size("members"))).alias(
                "__y"
            ),
        )
        .select(
            F.col("__x").alias("doc_a"),
            F.col("__y").alias("doc_b"),
            F.lit(1.0).alias("score"),
        )
    )
    return cross.unionAll(intra)


def with_preview(result: DataFrame, sigs: DataFrame, n: int = 10) -> DataFrame:
    """Attach the reference's 10-element signature preview (P3,
    reference ``app/src/worker_tasks.py:164``)."""
    return result.join(
        sigs.select("doc_id", F.slice("sig", 1, n).alias("vector_preview")),
        "doc_id",
    )


def bucket_stats(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Index health summary: bucket-count/size distribution of the
    bands table — the operational skew signal (a mega-bucket here is
    what motivates ``max_bucket_size`` / AQE skew handling before a
    probe ever runs). One row:
    (n_buckets, n_rows, max_bucket, avg_bucket, n_singleton_buckets).
    Exact aggregates only (no percentile sketches), so the DuckDB
    oracle matches bit-for-bit."""
    sizes = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("sz").alias("n_rows"),
        F.max("sz").alias("max_bucket"),
        F.round(F.avg("sz"), 6).alias("avg_bucket"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).alias(
            "n_singleton_buckets"
        ),
    )
