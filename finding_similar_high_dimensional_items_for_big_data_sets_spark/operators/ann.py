"""Approximate nearest neighbor over embedding columns.

- ``cosine_topk`` (in ``bruteforce``) is the exact baseline.
- ``hyperplane_bucket`` + ``ann_lsh_topk``: random-hyperplane (sign)
  LSH — the scale path. Bucket on the sign pattern of ``n_planes``
  seeded random hyperplanes, probe only the query's bucket(s), verify
  with exact cosine. At 100 TB the corpus is bucketed once (one
  shuffle at build), and each query touches ~N / 2^n_planes vectors.
- ``ivf_assign`` / ``ivf_topk``: IVF-style coarse quantizer — seeded
  random centroids by default (deterministic, DuckDB-reproducible) or
  ``ivf_train``'s Lloyd-refined ones: assign every vector to its
  nearest centroid, probe the query's ``n_probe`` nearest cells.
- On-disk stores (``sources.tables.write_embeddings_partitioned`` /
  ``write_ivf_partitioned``) partition the corpus by bucket/cell, so
  ``ann_lsh_topk_store`` / ``ivf_topk_store`` prune unprobed
  directories at the source and skip the per-query assignment
  expressions entirely.

Probe-path math is JVM-side higher-order expressions; planes/centroids
are driver-computed literals (seeded numpy), broadcast by Catalyst.
``ivf_train`` is the one numpy stage (broadcast centroids, tiny
per-partition partial sums).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
    cosine_similarity,
    l2_distance,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.materialize import (
    materialize,
)


def random_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).tolist()


def auto_n_planes(
    n_rows: int, target_bucket_size: int = 256, lo: int = 8, hi: int = 24
) -> int:
    """Plane count scaled to the corpus: 2^planes ~= n_rows / target,
    so the EXPECTED bucket population stays ~target_bucket_size as the
    corpus grows (a fixed plane count makes every within-bucket join
    quadratic at 100x the rows). Clamped to [lo, hi]: below 2^lo
    buckets the partitioning is too coarse to matter, above 2^hi the
    per-row bucket computation (one dot product per plane) dominates.
    """
    import math

    if n_rows <= 0:
        return lo
    needed = math.ceil(math.log2(max(1.0, n_rows / float(target_bucket_size))))
    return max(lo, min(hi, needed))


def random_centroids(dim: int, n_cells: int = 16, seed: int = 43) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.randn(n_cells, dim).tolist()


def _dot_lit(vec: Column, plane: list[float]) -> Column:
    lit_arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_bucket(
    vec: Column, dim: int, n_planes: int = 8, seed: int = 42
) -> Column:
    """Sign-pattern bucket id in [0, 2^n_planes): bit j set iff
    dot(plane_j, vec) >= 0."""
    planes = random_planes(dim, n_planes, seed)
    bits = [
        F.when(_dot_lit(vec, planes[j]) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def with_hyperplane_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    return embeddings.withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), dim, n_planes, seed)
    )


def _seq_dot(plane: list[float], query: list[float]) -> float:
    """Sequential left-fold dot product — IEEE-identical to both the
    Spark ``_dot_lit`` fold and the DuckDB oracle's list_reduce, so
    driver-side probe selection agrees bit-for-bit with either engine
    at sign/margin boundaries."""
    acc = 0.0
    for x, y in zip(plane, query):
        acc += float(x) * float(y)
    return acc


def probe_buckets(
    query: list[float], n_planes: int = 8, seed: int = 42, n_probe: int = 1
) -> list[int]:
    """Multi-probe bucket set: the query's sign bucket plus the
    ``n_probe - 1`` buckets reached by flipping the perturbation SET of
    hyperplane bits with the smallest total |margin| (multi-probe LSH:
    near-boundary planes are the likeliest to disagree for true
    neighbors; a neighbor differing in several planes needs a
    multi-bit flip, so sets — not single bits — are enumerated, in
    nondecreasing cost via the classic shift/expand heap). A
    single-bit-only variant silently caps useful n_probe at
    n_planes + 1 and leaves recall flat however many probes are asked
    for. Deterministic: cost ties break by the sorted-plane index
    tuple; for n_probe <= 3 the sequence equals the single-flip one
    (base, then the two cheapest single flips), which the DuckDB
    oracle mirrors."""
    import heapq

    planes = random_planes(len(query), n_planes, seed)
    margins = [_seq_dot(p, query) for p in planes]
    qbucket = 0
    for j, m in enumerate(margins):
        if m >= 0:
            qbucket |= 1 << j
    out = [qbucket]
    if n_probe <= 1 or n_planes == 0:
        return out
    order = sorted(range(n_planes), key=lambda j: (abs(margins[j]), j))
    cost = [abs(margins[j]) for j in order]
    # heap over subsets of sorted-plane positions; (total cost, subset)
    # pops in nondecreasing cost, ties by subset tuple — deterministic.
    heap = [(cost[0], (0,))]
    while heap and len(out) < n_probe:
        c, s = heapq.heappop(heap)
        mask = 0
        for i in s:
            mask |= 1 << order[i]
        out.append(qbucket ^ mask)
        last = s[-1]
        if last + 1 < n_planes:
            # shift: replace the max element; expand: add the next one.
            # Together they enumerate every non-empty subset exactly once.
            heapq.heappush(heap, (c - cost[last] + cost[last + 1], s[:-1] + (last + 1,)))
            heapq.heappush(heap, (c + cost[last + 1], s + (last + 1,)))
    return out


def probe_plan_for_recall(
    query: list[float],
    n_planes: int = 8,
    seed: int = 42,
    target_recall: float = 0.9,
    target_cos: float = 0.9,
    max_probe: int = 1024,
) -> tuple[list[int], float]:
    """Recall-TARGETED probe set: how many multi-probe buckets this
    query needs so a neighbor at cosine ``target_cos`` is found with
    estimated probability >= ``target_recall``.

    Model (the s-curve math, same spirit as
    :func:`lsh.min_matching_bands`'s analytic pruning bound): for a
    neighbor v at angle theta to the query, its margin on plane j is
    cos(theta)*m_j + sin(theta)*g with g ~ N(0,1) (planes are standard
    Gaussian; m_j is the query's normalized margin), so plane j flips
    sign with probability Phi(-r*|m_j|), r = cos/sin = cot(theta). We
    use the standard logistic approximation Phi(x) ~ sigma(1.702x),
    which has a compounding property: the flip ODDS become
    exp(-1.702*r*|m_j|), so the probability mass of a flip-subset T is
    base_mass * exp(-1.702*r * sum_T |m_j|) — DECREASING in exactly
    the total-|margin| cost that :func:`probe_buckets`'s shift/expand
    heap already enumerates in nondecreasing order. The targeted plan
    is therefore a PREFIX of the probe_buckets sequence (identical
    buckets, identical order); this function just decides where the
    prefix may stop: accumulate subset masses until the estimate
    reaches the target.

    Returns (buckets, estimated_recall). The estimate is a model
    quantity for a neighbor at EXACTLY target_cos; true neighbors
    nearer than that flip fewer planes, so realized recall of a top-k
    whose members are mostly above target_cos runs higher (the bench
    reports both). ``max_probe`` bounds the scan budget — if the
    target is unreachable within it (many near-boundary planes), the
    plan is the full budget and the returned estimate honestly says
    how far it got.
    """
    import heapq
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1), got {target_recall}")
    if not 0.0 < target_cos < 1.0:
        raise ValueError(f"target_cos must be in (0,1), got {target_cos}")
    planes = random_planes(len(query), n_planes, seed)
    # Ordering/enumeration uses the RAW margins — byte-identical to
    # probe_buckets' heap (same costs, same ties), so the prefix
    # identity is structural, not probabilistic. Only the MASS model
    # uses the normalized, round(10)-stabilized magnitudes (the
    # boundary-stability contract shared with dedup._probe_array).
    raw = [_seq_dot(p, query) for p in planes]
    qnorm = math.sqrt(_seq_dot(query, query)) or 1.0
    normabs = [round(abs(d) / qnorm, 10) for d in raw]
    a = 1.702 * target_cos / math.sqrt(1.0 - target_cos * target_cos)
    # flip prob per plane: sigma(-a*|m|); survive prob: sigma(+a*|m|)
    base_mass = 1.0
    for m in normabs:
        base_mass *= 1.0 / (1.0 + math.exp(-a * m))
    qbucket = 0
    for j, d in enumerate(raw):
        if d >= 0:
            qbucket |= 1 << j
    buckets = [qbucket]
    acc = base_mass
    if acc >= target_recall or n_planes == 0:
        return buckets, acc
    order = sorted(range(n_planes), key=lambda j: (abs(raw[j]), j))
    cost = [abs(raw[j]) for j in order]
    heap = [(cost[0], (0,))]
    while heap and acc < target_recall and len(buckets) < max_probe:
        c, s = heapq.heappop(heap)
        mask = 0
        nsum = 0.0
        for i in s:
            mask |= 1 << order[i]
            nsum += normabs[order[i]]
        buckets.append(qbucket ^ mask)
        acc += base_mass * math.exp(-a * nsum)
        last = s[-1]
        if last + 1 < n_planes:
            heapq.heappush(
                heap, (c - cost[last] + cost[last + 1], s[:-1] + (last + 1,))
            )
            heapq.heappush(heap, (c + cost[last + 1], s + (last + 1,)))
    return buckets, min(acc, 1.0)


def ann_lsh_topk_target_recall(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int | None = 8,
    seed: int = 42,
    target_recall: float = 0.9,
    target_cos: float = 0.9,
    max_probe: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """:func:`ann_lsh_topk` with the probe COUNT chosen per query by
    :func:`probe_plan_for_recall` instead of a fixed n_probe — the
    recall knob becomes declarative ("find cos>=target_cos neighbors
    with probability >= target_recall") and the scan budget adapts to
    how close this query sits to its hyperplanes. Same output contract
    and determinism as ann_lsh_topk; the probe sequence is the same
    heap prefix, so at equal resulting probe counts the two are
    row-identical."""
    if n_planes is None:
        n_planes = auto_n_planes(
            n_rows if n_rows is not None else embeddings.count()
        )
    buckets, _est = probe_plan_for_recall(
        query, n_planes, seed, target_recall, target_cos, max_probe
    )
    # the plan IS the scan set (probe_buckets' own enumeration) — score
    # it directly instead of re-deriving the sequence
    return _cosine_topk_in_buckets(
        embeddings, query, buckets, k, n_planes, seed, id_col, vec_col
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int | None = 8,
    seed: int = 42,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Bucket-probe ANN: filter to the query's sign bucket(s)
    (``n_probe`` > 1 adds the lowest-margin bit-flip buckets for
    recall), exact cosine on survivors, deterministic top-k.
    Output: (vec_id, cos_sim, rank).

    ``n_planes=None`` sizes the bucket count to the corpus via
    ``auto_n_planes`` (``n_rows`` hint, else one count job) so probe
    cost stays ~n_probe * target_bucket_size as the corpus grows.

    At scale the corpus is bucketed once (one map stage, no shuffle);
    a probe reads ~``n_probe * N / 2^n_planes`` vectors. With the
    corpus written partitioned by bucket, the IN-filter prunes
    partitions at the source."""
    if n_planes is None:
        n_planes = auto_n_planes(
            n_rows if n_rows is not None else embeddings.count()
        )
    buckets = probe_buckets(query, n_planes, seed, n_probe)
    return _cosine_topk_in_buckets(
        embeddings, query, buckets, k, n_planes, seed, id_col, vec_col
    )


def _cosine_topk_in_buckets(
    embeddings: DataFrame,
    query: list[float],
    buckets: list[int],
    k: int,
    n_planes: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared scoring tail: exact cosine + deterministic top-k over the
    members of an explicit probe-bucket set."""
    dim = len(query)
    bucketed = with_hyperplane_bucket(embeddings, dim, n_planes, seed, vec_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # round(6): 1-ULP fold parity with the DuckDB oracle (see bruteforce).
    scored = bucketed.filter(F.col("bucket").isin(buckets)).select(
        id_col, F.round(cosine_similarity(F.col(vec_col), qlit), 6).alias("cos_sim")
    )
    # constant-valued partition key over the k surviving rows; pmod(id, 1)
    # is constant 0 but NOT foldable, so Catalyst keeps the partition
    # spec and WindowExec stops warning about a global window (a bare
    # lit(0) gets constant-folded back to the empty spec)
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ann_lsh_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int | None = 8,
    seed: int = 42,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_rows: int | None = None,
) -> DataFrame:
    """Batch bucket-probe ANN: one job for a whole query set.

    Per-query probe sets are computed driver-side (the query set is
    small — same contract as the LSH batch path) and broadcast as a
    (query_id, bucket) table; the corpus is bucketed once (map stage,
    no shuffle) and joined against it. Each vector lives in exactly ONE
    bucket, so no candidate dedup is needed. Scoring is exact cosine on
    survivors; per-query top-k window. Output:
    (query_id, vec_id, cos_sim, rank) — identical per query to
    :func:`ann_lsh_topk` at the same config.

    ``n_planes=None`` sizes the bucket count to the corpus via
    ``auto_n_planes`` (``n_rows`` hint, else one count job), mirroring
    the point path — probe cost per query then stays
    ~n_probe * target_bucket_size as the corpus grows instead of the
    bucket population scaling linearly with N at a fixed plane count.
    """
    if n_planes is None:
        n_planes = auto_n_planes(
            n_rows if n_rows is not None else embeddings.count()
        )
    spark = embeddings.sparkSession
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cos_sim double, rank int"
        )
    dim = len(qrows[0][query_vec_col])
    probe_rows = [
        (int(r[query_id_col]), int(b))
        for r in qrows
        for b in probe_buckets(
            [float(v) for v in r[query_vec_col]], n_planes, seed, n_probe
        )
    ]
    probe_df = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, bucket int"
    )
    bucketed = with_hyperplane_bucket(embeddings, dim, n_planes, seed, vec_col)
    qv = queries.select(query_id_col, query_vec_col)
    scored = (
        bucketed.join(F.broadcast(probe_df), "bucket")
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col), F.col(query_vec_col)), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def ann_lsh_topk_store(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_planes: int | None = None,
    seed: int | None = None,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a :func:`sources.tables.write_embeddings_partitioned`
    store: the bucket IN-filter hits the PARTITION column, so pruning
    happens at the source listing — unprobed buckets are never read
    (asserted against PartitionFilters in tests). Semantics identical
    to :func:`ann_lsh_topk` at the same (n_planes, seed).

    ``n_planes``/``seed`` default to the store's ``_index_meta``
    sidecar (written by ``write_embeddings_partitioned``) — pass them
    only for pre-metadata stores."""
    if n_planes is None or seed is None:
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            read_store_meta,
        )

        meta = read_store_meta(path)
        n_planes = n_planes if n_planes is not None else int(meta["n_planes"])
        seed = seed if seed is not None else int(meta["seed"])
    buckets = probe_buckets(query, n_planes, seed, n_probe)
    store = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = store.select(
        id_col, F.round(cosine_similarity(F.col(vec_col), qlit), 6).alias("cos_sim")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (argmin squared-L2, first tie wins) as
    a pure column expression — the coarse-quantizer assignment shared
    by :func:`ivf_assign` and ``dedup.semantic_duplicates``. Sequential
    ``zip_with`` + fold keeps the IEEE op order identical to the DuckDB
    oracle's ``list_reduce`` twin.
    """
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda x, y: F.pow(x.cast("double") - y, F.lit(2)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )
    # let-bind via a lambda variable: array_position + array_min would
    # otherwise each inline a full copy of the n_cells fold array
    return F.element_at(
        F.transform(
            F.array(dists),
            lambda d: F.array_position(d, F.array_min(d)).cast("int") - 1,
        ),
        F.lit(1),
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid cell (argmin L2).

    One Arrow kernel pass, no shuffle; at scale you'd persist
    partitioned by cell. Distances accumulate per-dimension in the
    exact IEEE op order of :func:`nearest_cell`'s sequential fold
    (:func:`_seqfold_sq_dists` — unlike the matmul form of
    :func:`ivf_assign_vectorized`, bit-identical including exact
    ties), so the assignment is the same as the expression path the
    oracle mirrors, at vectorized speed: the unrolled per-centroid
    fold was interpreted and cost ~2.2 s for 6400 rows x 32 cells at
    sf0.1. Output: original columns + cell INT; null vectors get a
    null cell like the expression path.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    _assert_pow_square_identity(embeddings.sparkSession)
    cents = np.asarray(centroids, dtype=np.float64)
    cbc = embeddings.sparkSession.sparkContext.broadcast(cents)
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField("cell", IntegerType())]
    )

    def assign(batches):
        c = cbc.value
        for pdf in batches:
            if len(pdf):
                mask, mat = _vec_matrix(pdf, vec_col)
                if mask.any():
                    cells = _seqfold_sq_dists(mat, c).argmin(axis=1)
                    pdf["cell"] = pd.Series(
                        _scatter_rows(mask, cells.astype(np.int32)),
                        index=pdf.index,
                        dtype=object,
                    )
                else:
                    pdf["cell"] = pd.Series(
                        [None] * len(pdf), index=pdf.index, dtype=object
                    )
            else:
                pdf["cell"] = pd.Series([], dtype=np.int32)
            yield pdf

    return embeddings.mapInPandas(assign, schema=out_schema)


def ivf_assign_vectorized(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Arrow/numpy twin of :func:`ivf_assign` for LARGE cell counts:
    :func:`nearest_cell` unrolls one literal fold expression per
    centroid, which is exact (oracle-parity) but makes codegen
    explode past ~10^2 cells; here the centroid matrix travels as a
    broadcast and each Arrow batch does one ``argmin`` matmul —
    the same kernel :func:`ivf_train` iterates. Assignment can differ
    from the expression path by float-tie ULPs at exact cell
    boundaries (|m|^2 - 2m.c + |c|^2 vs the sequential fold), so use
    the expression path when bit-parity with the SQL oracle matters
    and this one when n_cells scales with the corpus.

    Output: all input columns + ``cell_col`` INT, row order preserved
    within partitions, no shuffle.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    cbc = embeddings.sparkSession.sparkContext.broadcast(cents)
    # StructType.add MUTATES self — never call it on a live df.schema
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField(cell_col, IntegerType())]
    )

    def assign(batches):
        c = cbc.value
        cc = (c * c).sum(1)[None, :]
        for pdf in batches:
            if len(pdf):
                m = np.vstack(pdf[vec_col].values).astype(np.float64)
                d2 = (m * m).sum(1)[:, None] - 2.0 * (m @ c.T) + cc
                pdf[cell_col] = d2.argmin(axis=1).astype(np.int32)
            else:
                pdf[cell_col] = pd.Series([], dtype=np.int32)
            yield pdf

    return embeddings.mapInPandas(assign, schema=out_schema)


def probe_cells(
    query: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest the query (sequential-fold sums,
    ties by cell index — same contract as ivf_topk's inline choice)."""
    cdist = [
        sum(((c[i] - query[i]) ** 2 for i in range(len(query))), 0.0)
        for c in centroids
    ]
    order = sorted(range(len(centroids)), key=lambda c: (cdist[c], c))
    return order[:n_probe]


def ivf_probe_cells_alpha(
    query: list[float],
    centroids: list[list[float]],
    alpha: float,
    max_probe: int | None = None,
) -> list[int]:
    """Per-query ADAPTIVE probe set for a (trained) IVF quantizer: all
    cells whose center distance is within ``(1 + alpha)`` of the
    nearest center's — the IVF mirror of
    :func:`probe_plan_for_recall`'s declarative recall knob. A query
    deep inside one cell (big gap to the 2nd center) probes few cells;
    a query near a Voronoi boundary probes its whole neighborhood.
    ``alpha`` is calibrated against exact ground truth by
    :func:`ivf_alpha_for_recall`. Distances use the same sequential
    fold + tie-by-cell-index contract as :func:`probe_cells`, so the
    DuckDB twin reproduces the set exactly. ``max_probe`` caps the
    scan budget (nearest cells win).

    Degenerate-query convention (d1 == 0, query exactly on a center):
    bound = 0, so the probe set is exactly the distance-0 cells — the
    nearest cell is always included. :func:`ivf_alpha_for_recall`
    models the SAME rule (ratio 1 for distance-0 cells, unreachable
    otherwise), so calibrated alpha describes what such queries scan."""
    import math

    if alpha < 0.0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    # scalar pow fold ON PURPOSE: calibrated alpha is a realized ratio,
    # so the bound compare can sit at exact equality — the SQL twin
    # computes pow()-based distances, and glibc pow(x,2) != x*x in the
    # last ulp, so a vectorized (multiply-based) fold could flip the
    # boundary cell in or out and break oracle parity.
    cdist2 = [
        sum(((c[i] - query[i]) ** 2 for i in range(len(query))), 0.0)
        for c in centroids
    ]
    order = sorted(range(len(centroids)), key=lambda c: (cdist2[c], c))
    d1 = math.sqrt(cdist2[order[0]])
    bound = (1.0 + float(alpha)) * d1
    cells = [c for c in order if math.sqrt(cdist2[c]) <= bound]
    if max_probe is not None:
        cells = cells[:max_probe]
    return cells


def ivf_alpha_for_recall(
    queries: list[tuple[int, list[float]]],
    truth: dict[int, set],
    cell_of: dict,
    centroids: list[list[float]],
    target_recall: float,
) -> tuple[float, float]:
    """Calibrate the :func:`ivf_probe_cells_alpha` knob: the smallest
    ``alpha`` whose probe sets capture, on average over the sample
    queries, at least ``target_recall`` of each query's exact top-k.

    Inputs are driver-sized: ``queries`` = (query_id, vector) sample,
    ``truth[qid]`` = the exact top-k neighbor ids (one brute-force
    job), ``cell_of[vec_id]`` = assigned cell for each TRUTH id only
    (k * n_queries rows collected, never the corpus). The search space
    is the finite set of realized distance ratios, so the returned
    alpha is exactly achievable — no grid resolution error. Returns
    (alpha, estimated_recall_at_alpha); in-sample estimate, so hold
    out queries if you need an unbiased number. This is the FAISS
    autotune recipe (calibrate the probe knob on ground truth) recast
    for the distance-ratio rule."""
    import math

    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0,1], got {target_recall}")
    # per true neighbor: the distance ratio its cell needs. Degenerate
    # queries (d1 == 0) use the probe rule's own convention — bound is
    # 0 at every alpha, so a neighbor is reachable (ratio 1.0) iff its
    # cell distance is also 0, else unreachable (inf) — matching
    # ivf_probe_cells_alpha exactly instead of the old d1 := 1.0
    # substitution that turned ratios into absolute distances.
    per_query_ratios: list[list[float]] = []
    for qid, qv in queries:
        cdist = [
            math.sqrt(sum(((c[i] - qv[i]) ** 2 for i in range(len(qv))), 0.0))
            for c in centroids
        ]
        d1 = min(cdist)
        ratios = sorted(
            (
                cdist[cell_of[v]] / d1
                if d1 > 0.0
                else (1.0 if cdist[cell_of[v]] == 0.0 else math.inf)
            )
            for v in truth.get(qid, ())
            if v in cell_of
        )
        if ratios:
            per_query_ratios.append(ratios)
    if not per_query_ratios:
        return 0.0, 0.0

    def recall_at(alpha: float) -> float:
        lim = 1.0 + alpha
        vals = [
            sum(1 for r in rs if r <= lim) / len(rs) for rs in per_query_ratios
        ]
        return sum(vals) / len(vals)

    candidates = sorted(
        {
            max(0.0, r - 1.0)
            for rs in per_query_ratios
            for r in rs
            if math.isfinite(r)
        }
    )
    for a in candidates:
        rec = recall_at(a)
        if rec >= target_recall:
            return a, rec
    a = candidates[-1] if candidates else 0.0
    return a, recall_at(a)


def ivf_topk_alpha(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    alpha: float = 0.1,
    centroids: list[list[float]] | None = None,
    n_cells: int = 16,
    seed: int = 43,
    max_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_topk` with the probe set chosen per query by the
    calibrated distance-ratio rule (:func:`ivf_probe_cells_alpha`)
    instead of a fixed n_probe — the trained-IVF twin of
    :func:`ann_lsh_topk_target_recall`: the recall knob is declarative
    (calibrate alpha once for "recall >= target", then every query
    spends only the scan ITS margins require). Output: (vec_id, dist,
    rank), identical to ivf_topk whenever the rule picks the same
    cells."""
    if centroids is None:
        centroids = random_centroids(len(query), n_cells, seed)
    cells = ivf_probe_cells_alpha(query, centroids, alpha, max_probe)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = assigned.filter(F.col("cell").isin(cells)).select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ivf_topk_store(
    spark,
    path: str,
    query: list[float],
    centroids: list[list[float]] | None = None,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a cell-PARTITIONED IVF store
    (:func:`sources.tables.write_ivf_partitioned`): the cell IN-filter
    hits the partition column, so unprobed cells are pruned at the
    source listing — and the per-query job never evaluates the
    n_cells x dim assignment expression (that codegen alone costs ~1 s
    per fresh plan at 16x64; assignment is index-build work).
    Semantics identical to :func:`ivf_topk` at the same centroids.
    ``centroids=None`` loads the quantizer from the store's
    ``_index_meta`` sidecar (written by ``write_ivf_partitioned``) —
    for an HKM store the tree's LEAF CENTERS become the probe
    centroids (one driver-side flat distance pass over n_leaves
    centers per query — O(n_cells*dim) floats, fine even at
    corpus-scaled leaf counts; the tree is only needed for
    corpus-side assignment at build)."""
    if centroids is None:
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            read_store_meta,
        )

        meta = read_store_meta(path)
        if meta.get("kind") == "ivf_hkm":
            centroids = [
                [float(x) for x in c]
                for c in HKMQuantizer.from_dict(meta["tree"]).leaf_centers()
            ]
        else:
            centroids = meta["centroids"]
    cells = probe_cells(query, centroids, n_probe)
    store = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = store.select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ivf_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 43,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    alpha: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """Batch IVF probe: one job for a whole query set — the IVF twin
    of :func:`ann_lsh_topk_batch`. Per-query probe cells are chosen
    driver-side (same sequential-fold distances and tie rule as
    :func:`ivf_topk`) and broadcast as a (query_id, cell) table; the
    corpus is assigned once and joined against it. Each vector lives
    in exactly ONE cell, so no candidate dedup is needed. Output:
    (query_id, vec_id, dist, rank) — identical per query to
    :func:`ivf_topk` at the same quantizer.

    ``alpha``: switch from the fixed ``n_probe`` to the calibrated
    per-query distance-ratio rule (:func:`ivf_probe_cells_alpha`,
    optionally budget-capped by ``max_probe``) — each query probes
    only the cells its own margins require."""
    spark = embeddings.sparkSession
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, dist double, rank int"
        )
    dim = len(qrows[0][query_vec_col])
    if centroids is None:
        centroids = random_centroids(dim, n_cells, seed)
    if alpha is not None:
        probe_rows = [
            (int(r[query_id_col]), int(c))
            for r in qrows
            for c in ivf_probe_cells_alpha(
                [float(v) for v in r[query_vec_col]], centroids, alpha, max_probe
            )
        ]
    else:
        probe_rows = [
            (int(r[query_id_col]), int(c))
            for r in qrows
            for c in probe_cells(
                [float(v) for v in r[query_vec_col]], centroids, n_probe
            )
        ]
    probe_df = spark.createDataFrame(probe_rows, f"{query_id_col} long, cell int")
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    qv = queries.select(query_id_col, query_vec_col)
    scored = (
        assigned.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                l2_distance(F.col(vec_col), F.col(query_vec_col)), 6
            ).alias("dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    seed: int = 43,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """Lloyd-refined IVF centroids (the coarse quantizer a FAISS-style
    IVF index trains; reference analog ``benchmarks/benchmark_runner.py:
    119-128`` delegates this to faiss — here it's n_iters Spark jobs).

    Start from the seeded random centroids and iterate assign + mean.
    Each iteration is ONE map stage (the argmin assignment is a
    codegen'd expression, no shuffle) plus a groupBy(cell) whose
    map-side partial aggregation reduces every partition to at most
    n_cells rows of (sum-vector, count) — the shuffle moves
    O(partitions * n_cells * dim) doubles regardless of corpus size,
    so training scales to 100 TB corpora. Centroids stay driver-side
    (n_cells x dim floats). Empty cells keep their previous centroid
    (standard Lloyd fallback; the cell count never collapses).
    Deterministic for a fixed (seed, n_iters, partitioning-independent
    sums are NOT guaranteed bit-identical across cluster layouts —
    means are floats — but assignments are stable in practice).
    """
    import pandas as pd

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sc = embeddings.sparkSession.sparkContext
    vecs = embeddings.select(vec_col)
    cents = np.array(random_centroids(dim, n_cells, seed), dtype=np.float64)
    for _ in range(n_iters):
        # numpy assignment + per-partition partial sums: the expression
        # form (ivf_assign) would recompile a n_cells*dim-term codegen
        # plan every iteration because the centroid literals change
        # (measured ~2 s/iteration of pure compile at 16x64); here the
        # centroids travel as a broadcast and the job shape is
        # iteration-invariant. <= n_cells partial rows per partition
        # reach the driver.
        cbc = sc.broadcast(cents)

        def partials(batches):
            c = cbc.value
            sums = np.zeros_like(c)
            counts = np.zeros(len(c), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.vstack(pdf[vec_col].values).astype(np.float64)
                # argmin of squared L2; first-min ties like array_position
                d2 = (m * m).sum(1)[:, None] - 2.0 * (m @ c.T) + (c * c).sum(1)[None, :]
                cell = d2.argmin(axis=1)
                for ci in np.unique(cell):
                    sel = cell == ci
                    sums[ci] += m[sel].sum(axis=0)
                    counts[ci] += int(sel.sum())
            nz = np.flatnonzero(counts)
            if len(nz):
                yield pd.DataFrame(
                    {
                        "cell": nz.astype(np.int64),
                        "n": counts[nz],
                        "s": [sums[ci].tolist() for ci in nz],
                    }
                )

        rows = vecs.mapInPandas(
            partials, schema="cell long, n long, s array<double>"
        ).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(n_cells, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            counts[r["cell"]] += r["n"]
        upd = counts > 0
        cents = cents.copy()
        cents[upd] = sums[upd] / counts[upd, None]
    return cents.tolist()


def ivf_inertia(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to the assigned (nearest) centroid —
    the quantity Lloyd iterations monotonically non-increase."""
    assigned = ivf_assign(embeddings, centroids, vec_col=vec_col)
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda x, y: F.pow(x.cast("double") - y, F.lit(2)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )
    row = assigned.select(
        F.sum(F.array_min(dists)).alias("inertia")
    ).first()
    return float(row["inertia"] or 0.0)


def cell_stats(assigned: DataFrame, cell_col: str = "cell") -> DataFrame:
    """IVF-cell health summary — the quantizer twin of
    ``lsh.bucket_stats``: occupancy distribution over the assigned
    cells, the operational signal that the coarse quantizer keeps the
    within-cell quadratic bounded (a mega-cell here means retrain or
    split before SemDeDup/probe costs blow up). One row:
    (n_cells, n_rows, min_cell, p50_cell, p99_cell, max_cell,
    avg_cell). Exact aggregates; percentiles are Spark ``percentile``
    == DuckDB ``quantile_cont`` bit-identically over integer counts.
    Input: any DataFrame with a cell column (``ivf_assign`` /
    ``ivf_assign_vectorized`` / ``hkm_assign`` output)."""
    sizes = assigned.groupBy(cell_col).agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("sz").alias("n_rows"),
        F.min("sz").alias("min_cell"),
        F.expr("percentile(sz, 0.5D)").alias("p50_cell"),
        F.expr("percentile(sz, 0.99D)").alias("p99_cell"),
        F.max("sz").alias("max_cell"),
        F.round(F.avg("sz"), 6).alias("avg_cell"),
    )


# --- Hierarchical k-means quantizer (the corpus-scaled cell path) ----------


class HKMQuantizer:
    """Hierarchical k-means coarse quantizer: a fixed-branching tree
    whose LEAVES are the IVF cells. The scale-safe replacement for a
    flat centroid list once ``n_cells`` grows with the corpus —
    assigning against a flat list is O(n_cells * dim) per row, which
    with n_cells ∝ N makes total assignment work O(N² * dim / target)
    (measured 4.3x super-linear at 10x rows in the round-4 scaling
    bench). Greedy tree descent costs O(branch * depth * dim) per row
    = O(branch * log_branch(n_cells) * dim) — total work O(N log N).
    This is the IMI/FLANN hierarchical-k-means recipe (Muja &
    Lowe 2009; Babenko & Lempitsky inverted multi-index lineage).

    The tree is data: ``levels[l]`` holds ``centers`` (n_nodes x dim,
    float64) and ``parent`` (index into level l-1; -1 at the root
    level), with each parent's children CONTIGUOUS so descent can
    slice instead of gather. Leaves all live at the last level
    (under-full nodes pass through as single-child chains), and the
    leaf/cell id is the node index there: dense ints in
    [0, n_leaves), same contract as a flat centroid list's cell ids.

    Descent is greedy (route to the nearest child at every level), so
    a boundary vector CAN land in a different leaf than the flat
    argmin over leaf centers would pick — for SemDeDup-style blocking
    that trades a sliver of pair recall (verification stays exact),
    the same trade the paper's own k-means clustering already makes.
    Train on a driver-side sample (:func:`hkm_train_df`): the tree is
    O(n_leaves * dim) floats, broadcast like any quantizer.
    """

    def __init__(self, levels: list[dict]):
        if not levels:
            raise ValueError("HKMQuantizer needs at least one level")
        self.levels = levels
        # children of node p at level l-1 occupy
        # [child_start[l][p], child_start[l][p] + child_count[l][p])
        self.child_start: list[np.ndarray] = [np.array([], dtype=np.int64)]
        self.child_count: list[np.ndarray] = [np.array([], dtype=np.int64)]
        for l in range(1, len(levels)):
            parent = levels[l]["parent"]
            n_par = len(levels[l - 1]["centers"])
            counts = np.bincount(parent, minlength=n_par).astype(np.int64)
            starts = np.zeros(n_par, dtype=np.int64)
            starts[1:] = np.cumsum(counts)[:-1]
            if not (parent == np.repeat(np.arange(n_par), counts)).all():
                raise ValueError(
                    f"level {l}: children must be contiguous and ordered by parent"
                )
            self.child_start.append(starts)
            self.child_count.append(counts)

    @property
    def depth(self) -> int:
        return len(self.levels)

    @property
    def n_leaves(self) -> int:
        return len(self.levels[-1]["centers"])

    def leaf_centers(self) -> np.ndarray:
        """(n_leaves x dim) leaf centers — the cells' centroids, e.g.
        for prototypicality scoring against the assigned cell."""
        return self.levels[-1]["centers"]

    def payload(self) -> tuple:
        """Plain-arrays form for broadcasting into Arrow workers."""
        return (
            [lvl["centers"] for lvl in self.levels],
            self.child_start,
            self.child_count,
        )

    def to_dict(self) -> dict:
        """JSON-safe form for store sidecars (``_index_meta.json``):
        the quantizer is part of a store's identity — cells are only
        comparable under the tree that assigned them."""
        return {
            "levels": [
                {
                    "centers": [[float(x) for x in c] for c in lvl["centers"]],
                    "parent": [int(p) for p in lvl["parent"]],
                }
                for lvl in self.levels
            ]
        }

    @classmethod
    def from_dict(cls, d: dict) -> "HKMQuantizer":
        return cls(
            [
                {
                    "centers": np.asarray(lvl["centers"], dtype=np.float64),
                    "parent": np.asarray(lvl["parent"], dtype=np.int64),
                }
                for lvl in d["levels"]
            ]
        )


def _kmeans_node(
    X: np.ndarray, k: int, rs: np.random.RandomState, n_iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """Plain seeded Lloyd on one node's points: k centers + per-point
    assignment. Init picks k distinct rows; emptied clusters reseed to
    the points farthest from their assigned center, each empty cluster
    taking a DISTINCT row (farthest-first) so simultaneous empties
    can't collapse onto one duplicate center and waste leaf budget."""
    n = len(X)
    k = min(k, n)
    init_idx = rs.choice(n, size=k, replace=False)
    cents = X[init_idx].copy()
    assign = np.zeros(n, dtype=np.int64)
    for _ in range(n_iters):
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ cents.T) + (cents * cents).sum(1)[None, :]
        assign = d2.argmin(axis=1)
        empties = [ci for ci in range(k) if not (assign == ci).any()]
        for ci in range(k):
            sel = assign == ci
            if sel.any():
                cents[ci] = X[sel].mean(axis=0)
        if empties:
            far_order = np.argsort(-d2[np.arange(n), assign])
            for slot, ci in enumerate(empties):
                cents[ci] = X[far_order[slot]]
    return cents, assign


def _split_targets(target: int, sizes: np.ndarray) -> np.ndarray:
    """Allocate a node's leaf budget to its children proportionally to
    their point mass (largest-remainder rounding, >= 1 each)."""
    k = len(sizes)
    raw = target * sizes / max(1, sizes.sum())
    t = np.maximum(1, np.floor(raw).astype(np.int64))
    while t.sum() > target:
        t[t.argmax()] -= 1
    frac = raw - t
    while t.sum() < target:
        i = int(frac.argmax())
        t[i] += 1
        frac[i] = -np.inf
    return t


def hkm_train(
    sample: np.ndarray,
    n_leaves: int,
    branch: int = 16,
    seed: int = 43,
    n_iters: int = 8,
) -> HKMQuantizer:
    """Train the hierarchical quantizer on a driver-side sample
    (numpy; the sample is small by construction — see
    :func:`hkm_train_df`). Top-down: each node Lloyd-splits into
    <= ``branch`` children, children inherit leaf budgets proportional
    to their point mass, and splitting stops when every budget is 1 —
    leaf count lands within rounding of ``n_leaves``, balanced by
    data density rather than by index arithmetic. Deterministic for a
    fixed (sample, seed)."""
    X = np.asarray(sample, dtype=np.float64)
    if X.ndim != 2 or len(X) == 0:
        raise ValueError(f"sample must be a non-empty 2-D array, got {X.shape}")
    n_leaves = max(1, min(int(n_leaves), len(X)))
    rs = np.random.RandomState(seed)
    # frontier: (point-indices, leaf budget, parent node id)
    frontier: list[tuple[np.ndarray, int, int]] = [
        (np.arange(len(X)), n_leaves, -1)
    ]
    levels: list[dict] = []
    while True:
        centers_l: list[np.ndarray] = []
        parents_l: list[int] = []
        next_frontier: list[tuple[np.ndarray, int, int]] = []
        for idx, target, parent in frontier:
            pts = X[idx]
            if target <= 1 or len(idx) < 2:
                # pass-through: keep the leaf at uniform depth
                node = len(centers_l)
                centers_l.append(pts.mean(axis=0))
                parents_l.append(parent)
                next_frontier.append((idx, 1, node))
                continue
            k = min(branch, target, len(idx))
            cents, assign = _kmeans_node(pts, k, rs, n_iters)
            sizes = np.bincount(assign, minlength=k)
            keep = np.flatnonzero(sizes)  # drop clusters emptied on the last sweep
            if len(keep) < 2:
                # unsplittable (e.g. all-identical points): force a leaf
                # instead of looping on the same subset forever
                node = len(centers_l)
                centers_l.append(pts.mean(axis=0))
                parents_l.append(parent)
                next_frontier.append((idx, 1, node))
                continue
            budgets = _split_targets(target, sizes[keep])
            for bi, ci in enumerate(keep):
                node = len(centers_l)
                centers_l.append(cents[ci])
                parents_l.append(parent)
                next_frontier.append((idx[assign == ci], int(budgets[bi]), node))
        levels.append(
            {
                "centers": np.vstack(centers_l),
                "parent": np.asarray(parents_l, dtype=np.int64),
            }
        )
        if all(t <= 1 for _, t, _ in frontier):
            break
        frontier = next_frontier
    return HKMQuantizer(levels)


def hkm_train_df(
    embeddings: DataFrame,
    n_leaves: int,
    branch: int = 16,
    seed: int = 43,
    n_iters: int = 8,
    vec_col: str = "embedding",
    sample_size: int = 32768,
) -> HKMQuantizer:
    """Sample-then-train: a content-deterministic ``sample_size``-row
    subset collected to the driver, then :func:`hkm_train`. This is how
    production coarse quantizers train at 100 TB — the quantizer needs
    the density SHAPE, not every row, and a bounded sample makes
    training cost independent of corpus size.

    The subset is the ``sample_size`` rows with the smallest
    ``xxhash64(vector, seed)`` — a seeded uniform draw that is a
    function of the DATA alone. The former ``sample(seed).limit(n)``
    picked rows by partition layout (Bernoulli draws follow partition
    assignment and ``limit`` takes whichever partitions answer first),
    so re-ingesting identical data with a different file count silently
    trained a different tree; it also needed a sizing ``count()`` pass.
    One distributed partial top-k (TakeOrderedAndProject) replaces
    both. The collected rows are then put in NaN-safe lexicographic
    order (``np.lexsort``) so the training matrix is invariant to
    collect order too.

    Artifact note: this changes WHICH rows a retrain on identical data
    selects versus pre-round-12 builds (the old subset was
    layout-dependent, so it was never stable to begin with); persisted
    HKM quantizers keep answering queries unchanged — only retraining
    is affected.
    """
    rows = (
        embeddings.select(vec_col)
        .orderBy(
            F.xxhash64(F.col(vec_col), F.lit(seed)).asc(),
            F.col(vec_col).asc(),
        )
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("empty embeddings table")
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    # np.lexsort's last key is the primary one -> feed columns reversed
    # for lexicographic row order; argsort places NaN last and is
    # stable, so the order is total even for NaN-carrying vectors
    # (python list sort raises/misorders on NaN).
    X = X[np.lexsort(X.T[::-1])]
    return hkm_train(X, n_leaves, branch=branch, seed=seed, n_iters=n_iters)


def hkm_descend(m: np.ndarray, payload: tuple) -> np.ndarray:
    """Vectorized greedy descent for a batch: route every row to its
    nearest child level by level. Rows are grouped by current node
    (stable argsort) so each group is ONE small matmul against a
    contiguous slice of <= branch child centers; |x|² is constant per
    row and dropped from the argmin. Returns leaf ids (int64)."""
    centers, child_start, child_count = payload
    c0 = centers[0]
    cur = (-2.0 * (m @ c0.T) + (c0 * c0).sum(1)[None, :]).argmin(axis=1)
    for l in range(1, len(centers)):
        cl, starts, counts = centers[l], child_start[l], child_count[l]
        order = np.argsort(cur, kind="stable")
        sorted_cur = cur[order]
        uniq, first = np.unique(sorted_cur, return_index=True)
        bounds = np.append(first, len(sorted_cur))
        nxt = np.empty_like(cur)
        for ui, p in enumerate(uniq):
            rows = order[bounds[ui] : bounds[ui + 1]]
            s, c = starts[p], counts[p]
            ch = cl[s : s + c]
            local = (
                -2.0 * (m[rows] @ ch.T) + (ch * ch).sum(1)[None, :]
            ).argmin(axis=1)
            nxt[rows] = s + local
        cur = nxt
    return cur


def hkm_assign(
    embeddings: DataFrame,
    quantizer: HKMQuantizer,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Tree twin of :func:`ivf_assign_vectorized`: assign each vector
    to an HKM leaf cell via greedy descent — O(branch * depth * dim)
    per row regardless of leaf count, the kernel that keeps
    corpus-scaled cell counts linear-time. Output: all input columns
    + ``cell_col`` INT, row order preserved within partitions, no
    shuffle."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    pbc = embeddings.sparkSession.sparkContext.broadcast(quantizer.payload())
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField(cell_col, IntegerType())]
    )

    def assign(batches):
        payload = pbc.value
        for pdf in batches:
            if len(pdf):
                m = np.vstack(pdf[vec_col].values).astype(np.float64)
                pdf[cell_col] = hkm_descend(m, payload).astype(np.int32)
            else:
                pdf[cell_col] = pd.Series([], dtype=np.int32)
            yield pdf

    return embeddings.mapInPandas(assign, schema=out_schema)


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 43,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF probe: search only the n_probe cells nearest the query.
    Output: (vec_id, dist, rank).

    ``centroids``: pass :func:`ivf_train` output for a trained
    quantizer (tighter cells -> better recall at the same n_probe);
    default None keeps the seeded random centroids the DuckDB oracle
    reproduces.

    Probe-cell choice uses a sequential left-fold sum (not np.sum's
    pairwise tree) so the driver-side ordering is IEEE-identical to
    the DuckDB oracle's list_reduce fold; ties break by cell index.
    """
    if centroids is None:
        centroids = random_centroids(len(query), n_cells, seed)
    else:
        n_cells = len(centroids)
    cdist = [
        sum(((c[i] - query[i]) ** 2 for i in range(len(query))), 0.0)
        for c in centroids
    ]
    order = sorted(range(n_cells), key=lambda c: (cdist[c], c))
    probe_cells = order[:n_probe]
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # round(6): 1-ULP fold parity with the DuckDB oracle (see bruteforce).
    scored = assigned.filter(F.col("cell").isin(probe_cells)).select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


# --- Product quantization (PQ) ---------------------------------------------


def random_codebooks(
    dim: int, m: int = 8, n_codes: int = 16, seed: int = 44
) -> list[list[list[float]]]:
    """Seeded PQ codebooks, shape m x n_codes x (dim/m) — the
    deterministic quantizer the DuckDB oracle reproduces (same role as
    :func:`random_centroids` for IVF)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    rs = np.random.RandomState(seed)
    return rs.randn(m, n_codes, dim // m).tolist()


#: sessions (by SparkContext application id and start time) whose JVM
#: passed the pow(x,2) == x*x bit-identity check — an ENVIRONMENT
#: property, not a data result, so caching it across invocations is
#: sound. Not keyed by ``id(sc)``: CPython reuses a freed object's id,
#: so a new session could inherit a stopped one's entry and skip its
#: check.
_SEQFOLD_GUARD_OK: dict[tuple[str, int], bool] = {}


def _assert_pow_square_identity(spark) -> None:
    """Guard the Arrow kernels' bit-parity premise on THIS JVM.

    Every seqfold kernel (:func:`_seqfold_sq_dists`, :func:`_rotate_np`,
    the encode/assign paths) reproduces the expression trees' ``pow(d,
    2)`` with numpy ``d*d``. IEEE multiply is correctly rounded in both
    engines, so the premise reduces to ``Math.pow(d, 2.0) == d*d`` on
    the executing JVM — asserted empirically over 4M doubles on the
    build JVM, but a different JVM build/arch could in principle
    diverge and silently flip argmin ties versus the expression/oracle
    path with no failing check. This runs ONE tiny single-partition job
    per session over 16k deterministic wide-magnitude doubles
    (~1e-306..1e306, both signs) and raises if any value differs;
    ``spark.spark_graft.seqfold_guard=off`` skips it."""
    if spark.conf.get("spark.spark_graft.seqfold_guard", "on") == "off":
        return
    key = (spark.sparkContext.applicationId, spark.sparkContext.startTime)
    if _SEQFOLD_GUARD_OK.get(key):
        return
    v = (F.rand(7) * 2 - 1) * F.pow(
        F.lit(10.0), (F.col("id") % F.lit(613)).cast("double") - F.lit(306.0)
    )
    bad = (
        spark.range(0, 1 << 14, 1, 1)
        .select(v.alias("v"))
        .filter(F.pow(F.col("v"), 2) != F.col("v") * F.col("v"))
        .count()
    )
    if bad:
        raise RuntimeError(
            f"this JVM's Math.pow(x, 2) differs from x*x on {bad}/16384 "
            "sampled doubles — the Arrow kernel paths (ivf_assign, "
            "pq/opq/ivfpq encode) would not be bit-identical to the "
            "expression forms (nearest_cell / pq_code_expr). Use the "
            "expression-path operators, or set "
            "spark.spark_graft.seqfold_guard=off to accept the risk"
        )
    _SEQFOLD_GUARD_OK[key] = True


def _seqfold_sq_dists(mat: "np.ndarray", pts: "np.ndarray") -> "np.ndarray":
    """(n, |pts|) squared-L2 with the EXACT IEEE op order of the
    :func:`nearest_cell` / :func:`pq_code_expr` sequential fold: per
    dimension j, ``acc = acc + (x_j - p_j)^2`` accumulating
    left-to-right from 0.0. ``d*d`` is bit-equal to the expressions'
    ``pow(d, 2)`` (JVM Math.pow with an exact small-integer exponent;
    asserted bit-for-bit over 4M random doubles on this JVM), and
    elementwise numpy adds round identically to the JVM fold — so the
    DISTANCES, not just the argmins, are bit-identical to the
    expression path (unlike the matmul form, see
    :func:`ivf_assign_vectorized`'s caveat)."""
    n = mat.shape[0]
    acc = np.zeros((n, len(pts)), dtype=np.float64)
    for j in range(mat.shape[1]):
        d = mat[:, j, None] - pts[None, :, j]
        acc += d * d
    return acc


def _pq_codes_np(mat: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """First-tie PQ argmin codes over sequential-fold distances —
    the numpy twin of :func:`pq_code_expr` (``books`` shaped
    (m, n_codes, dsub)). np.argmin takes the first minimum, matching
    array_position(array_min)."""
    m_sub, _, dsub = books.shape
    codes = np.empty((mat.shape[0], m_sub), dtype=np.int32)
    for s in range(m_sub):
        codes[:, s] = _seqfold_sq_dists(
            mat[:, s * dsub : (s + 1) * dsub], books[s]
        ).argmin(axis=1)
    return codes


def _rotate_np(mat: "np.ndarray", w: "np.ndarray") -> "np.ndarray":
    """X @ R with :func:`opq.rotate_expr`'s sequential fold order:
    ``w[j, c]`` is ``r_cols[c][j]``; per output column,
    ``acc = acc + x_j * w_jc`` in ascending j from 0.0 — each scalar
    multiply and add rounds identically to the JVM fold, so rotated
    values are bit-identical."""
    if mat.shape[1] != w.shape[0]:
        raise ValueError(
            f"OPQ rotation dim mismatch: expected {w.shape[0]}, "
            f"got {mat.shape[1]}"
        )
    acc = np.zeros((mat.shape[0], w.shape[1]), dtype=np.float64)
    for j in range(w.shape[0]):
        acc += mat[:, j, None] * w[None, j, :]
    return acc


def _vec_matrix(pdf, vec_col: str):
    """(non-null mask, matrix of the non-null vectors) for one Arrow
    batch — null embeddings pass through as null codes, mirroring the
    expression path's null propagation."""
    mask = pdf[vec_col].notna().values
    mat = (
        np.vstack(pdf[vec_col].values[mask]).astype(np.float64)
        if mask.any()
        else np.zeros((0, 0), dtype=np.float64)
    )
    return mask, mat


def _scatter_rows(mask: "np.ndarray", rows) -> list:
    """List of len(mask): ``rows[i]`` at the i-th True slot, None
    elsewhere (pandas boolean-mask setitem rejects lists of arrays; a
    plain list column does not)."""
    if len(rows) == len(mask):
        return list(rows)
    it = iter(rows)
    return [next(it) if m else None for m in mask]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    r_cols: list[list[float]] | None = None,
) -> DataFrame:
    """Encode every vector to m uint8-ish codes: per subspace, the
    argmin (first tie, like ivf_assign) of squared-L2 from the
    subvector slice to each code. ``r_cols``: optional OPQ rotation
    applied inside the same kernel (:func:`_rotate_np` — bit-identical
    to ``opq.rotate_expr``), so the OPQ encode is one Python crossing.

    One Arrow kernel per batch, shuffle-free — one pass at any scale.
    The m x n_codes unrolled fold EXPRESSION this replaces is exact
    but interpreted (higher-order lambdas don't codegen): measured
    ~4 s for 2000 vectors at sf0.1 vs milliseconds for the vectorized
    batch argmin (guide §4.2); distances use the sequential-fold op
    order so codes are bit-identical (:func:`_seqfold_sq_dists`).
    The codes table is the PQ index artifact: dim doubles (512 B at
    dim=64) compress to m small ints (~8 B), the 64x memory ratio
    that lets a 100 TB embedding corpus serve approximate distances
    from RAM.

    Output: (vec_id, codes array<int>).
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    _assert_pow_square_identity(embeddings.sparkSession)
    books = np.asarray(codebooks, dtype=np.float64)
    rot = (
        np.asarray(r_cols, dtype=np.float64).T if r_cols is not None else None
    )
    bbc = embeddings.sparkSession.sparkContext.broadcast((books, rot))
    id_field = embeddings.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def encode(batches):
        bks, rw = bbc.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "codes": pd.Series([], dtype=object)}
                )
                continue
            mask, mat = _vec_matrix(pdf, vec_col)
            if mask.any():
                if rw is not None:
                    mat = _rotate_np(mat, rw)
                out = _scatter_rows(mask, _pq_codes_np(mat, bks))
            else:
                out = [None] * len(pdf)
            yield pd.DataFrame({id_col: pdf[id_col].values, "codes": out})

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema=out_schema
    )


def pq_code_expr(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """The PQ code array for ``vec`` as a pure column expression
    (per-subspace first-tie argmin, sequential fold) — shared by
    :func:`pq_encode` and the IVF-PQ residual encoder."""
    dsub = len(codebooks[0][0])
    code_cols = []
    for s, book in enumerate(codebooks):
        sub = F.slice(vec, s * dsub + 1, dsub)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array(*[F.lit(float(x)) for x in code]),
                        lambda x, y: F.pow(x.cast("double") - y, F.lit(2)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for code in book
            ]
        )
        # let-bind: array_position + array_min would each inline a
        # copy of the n_codes fold array (x2 per subspace adds up)
        code_cols.append(
            F.element_at(
                F.transform(
                    F.array(dists),
                    lambda d: F.array_position(d, F.array_min(d)).cast("int")
                    - 1,
                ),
                F.lit(1),
            )
        )
    return F.array(*code_cols)


def pq_topk(
    embeddings: DataFrame | None,
    query: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: precompute the m x n_codes
    lookup table of squared-L2 from the query's subvectors to every
    code (driver-side, sequential-fold floats identical to the DuckDB
    oracle), then score each corpus vector as the sum of m table
    lookups over its codes — 8 adds instead of a 64-dim distance.

    ``codebooks``: pass :func:`train_pq` output for a trained
    quantizer; default None keeps the seeded codebooks the oracle
    reproduces. ``codes``: pass a prebuilt :func:`pq_encode` table
    (the persisted index artifact) to skip encoding at query time —
    the production path; default encodes inline.

    Output: (vec_id, dist, rank) — dist is the ADC approximation of
    L2 (sqrt of the summed table entries), rounded to 6.
    """
    if codes is not None and codebooks is None:
        # scoring a prebuilt codes table against freshly-seeded books
        # would be silently meaningless — the LUT must come from the
        # SAME quantizer that assigned the codes
        raise ValueError(
            "codes passed without codebooks: supply the codebooks the "
            "codes table was encoded with"
        )
    if codebooks is None:
        codebooks = random_codebooks(len(query), m, n_codes, seed)
    dsub = len(codebooks[0][0])
    lut = [
        [
            sum(((c[i] - query[s * dsub + i]) ** 2 for i in range(dsub)), 0.0)
            for c in book
        ]
        for s, book in enumerate(codebooks)
    ]
    if codes is None:
        if embeddings is None:
            raise ValueError("need embeddings to encode, or a prebuilt codes table")
        codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    expr = None
    for s in range(len(codebooks)):
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in lut[s]]),
            F.col("codes")[s] + F.lit(1),
        )
        expr = term if expr is None else expr + term
    scored = codes.select(
        id_col, F.round(F.sqrt(expr), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def train_pq(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 5,
    seed: int = 44,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Lloyd-trained PQ codebooks, FUSED: one corpus pass per
    iteration trains all ``m`` sub-codebooks at once — each Arrow
    batch slices the vector into its m subvectors, argmin-assigns
    every slice against that subspace's current centroids, and emits
    partial sums keyed by (subspace, code). m× fewer corpus passes
    than sequential per-subspace training (n_iters jobs total instead
    of m * n_iters), with the same shuffle bound: <= m * n_codes
    partial rows per partition reach the driver. Bit-identical to the
    sequential form — same per-subspace init seeds (``seed + s``,
    matching :func:`ivf_train` on the slice), same per-batch float
    math, same batch/partition layout (asserted by test). Tighter
    codes -> lower ADC distortion at the same 8-byte-per-vector
    budget."""
    import pandas as pd

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    dsub = dim // m
    sc = embeddings.sparkSession.sparkContext
    vecs = embeddings.select(vec_col)
    if n_iters > 1:
        # Each Lloyd iteration re-evaluates the input plan; when the
        # caller feeds a DERIVED table (e.g. IVF residuals — an
        # interpreted zip_with over the assignment), that upstream
        # compute ran n_iters times (measured 2.26 -> 1.33 s for the
        # residual-train row at sf0.1). Materialize once per
        # invocation: partition layout and row order are preserved, so
        # the per-batch partial sums — and the codebooks — stay
        # bit-identical (guide §3.3). At extreme corpus scale prefer
        # pre-sampling the training input; spark.spark_graft.
        # materialize=none restores streaming recompute.
        vecs = materialize(vecs)
    cents = np.stack(
        [
            np.array(random_centroids(dsub, n_codes, seed + s), dtype=np.float64)
            for s in range(m)
        ]
    )  # (m, n_codes, dsub)
    for _ in range(n_iters):
        cbc = sc.broadcast(cents)

        def partials(batches):
            c = cbc.value
            sums = np.zeros_like(c)
            counts = np.zeros((m, n_codes), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.vstack(pdf[vec_col].values).astype(np.float64)
                for s in range(m):
                    Xs = X[:, s * dsub : (s + 1) * dsub]
                    cs = c[s]
                    d2 = (
                        (Xs * Xs).sum(1)[:, None]
                        - 2.0 * (Xs @ cs.T)
                        + (cs * cs).sum(1)[None, :]
                    )
                    cell = d2.argmin(axis=1)
                    for ci in np.unique(cell):
                        sel = cell == ci
                        sums[s, ci] += Xs[sel].sum(axis=0)
                        counts[s, ci] += int(sel.sum())
            sub_i, code_i = np.nonzero(counts)
            if len(sub_i):
                yield pd.DataFrame(
                    {
                        "sub": sub_i.astype(np.int64),
                        "cell": code_i.astype(np.int64),
                        "n": counts[sub_i, code_i],
                        "s": [sums[si, ci].tolist() for si, ci in zip(sub_i, code_i)],
                    }
                )

        rows = vecs.mapInPandas(
            partials, schema="sub long, cell long, n long, s array<double>"
        ).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros((m, n_codes), dtype=np.int64)
        for r in rows:
            sums[r["sub"], r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            counts[r["sub"], r["cell"]] += r["n"]
        upd = counts > 0
        cents = cents.copy()
        cents[upd] = sums[upd] / counts[upd][:, None]
    return [cents[s].tolist() for s in range(m)]


def pq_topk_rerank(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The standard PQ serving architecture: ADC over the compressed
    codes picks a ``shortlist`` of candidates, then the TRUE L2 against
    the full vectors reranks just those — approximate where the data is
    big (the whole codes table), exact where it is small (``shortlist``
    rows). At 100 TB the codes are the RAM-resident scan and the full
    vectors are fetched by a left_semi join against the embedding
    store; recall is set by the shortlist size, not ADC distortion
    (measured 0.8 at a 20% shortlist where raw ADC top-k gets 0.2 on
    the structureless synthetic fixtures).

    Output: (vec_id, dist, rank) — dist is the EXACT L2, rounded to 6.
    """
    cand = pq_topk(
        embeddings, query, k=shortlist, m=m, n_codes=n_codes, seed=seed,
        id_col=id_col, vec_col=vec_col, codebooks=codebooks, codes=codes,
    ).select(id_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = embeddings.join(cand, id_col, "left_semi").select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def pq_topk_store(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    embeddings: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search against a persisted :func:`..sources.tables.
    write_pq_index` store: codes and quantizer both come from the
    store, so the LUT always matches the codes. Plain ADC top-k by
    default; pass ``shortlist`` + ``embeddings`` for the
    shortlist-then-exact-rerank serving path."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        read_pq_index,
    )

    codes, books = read_pq_index(spark, path)
    if shortlist is None:
        return pq_topk(None, query, k=k, id_col=id_col, codebooks=books, codes=codes)
    if embeddings is None:
        raise ValueError("shortlist rerank needs the embeddings DataFrame")
    return pq_topk_rerank(
        embeddings, query, k=k, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col, codebooks=books, codes=codes,
    )


# --- Scalar quantization (SQ8) ---------------------------------------------
#
# The third rung of the quantization ladder (IVF cells -> PQ codes ->
# SQ8 bytes): each dimension is affinely mapped onto [0, levels] and
# stored as one small int. 4x smaller than float32 at dim preserved,
# and — unlike PQ — the reconstruction error is a per-dimension
# rounding error, so ADC distances track true L2 closely even on
# unclustered corpora where PQ subspace codebooks fail (the structure-
# free sf* embedding fixture: PQ ADC recall 0.2, SQ8 ADC ~1.0).
# Reference analog: the FAISS scale path (SURVEY §2.3 J4); FAISS calls
# this IndexScalarQuantizer(QT_8bit).


def sq_train(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] ranges — the entire SQ8 "model".

    ONE shuffle-free corpus pass: 2*dim scalar aggregates with map-side
    partial aggregation, a single 1-row collect. min/max are exact
    selections (no float-order hazard), so Spark and the DuckDB oracle
    train bit-identical quantizers from the same parquet.
    """
    aggs = []
    for i in range(dim):
        e = F.col(vec_col)[i].cast("double")
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    row = embeddings.agg(*aggs).first()
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    maxs = [float(row[f"mx{i}"]) for i in range(dim)]
    return mins, maxs


def _sq_scales(mins: list[float], maxs: list[float], levels: int) -> list[float]:
    """Encode scale per dim: levels/(max-min), 0 for constant dims
    (their code is always 0 and ADC reconstructs exactly min)."""
    return [
        float(levels) / (mx - mn) if mx > mn else 0.0
        for mn, mx in zip(mins, maxs)
    ]


def _sq_steps(mins: list[float], maxs: list[float], levels: int) -> list[float]:
    """Decode step per dim: (max-min)/levels — computed independently
    of the encode scale (NOT 1/scale) so both engines evaluate the
    same IEEE expression."""
    return [
        (mx - mn) / float(levels) if mx > mn else 0.0
        for mn, mx in zip(mins, maxs)
    ]


def sq_encode(
    embeddings: DataFrame,
    mins: list[float],
    maxs: list[float],
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to dim bytes: round((x-min)*levels/(max-min))
    clamped to [0, levels]. Row-local codegen'd expressions — shuffle-
    free, fuses into the scan at any scale.

    Output: (id_col, codes array<int>), the 4x-compressed index
    artifact ADC search scans.
    """
    mn = F.array(*[F.lit(float(v)) for v in mins])
    sc = F.array(*[F.lit(float(v)) for v in _sq_scales(mins, maxs, levels)])
    shifted = F.zip_with(F.col(vec_col), mn, lambda x, m: x.cast("double") - m)
    codes = F.zip_with(
        shifted,
        sc,
        lambda d, s: F.least(
            F.lit(levels), F.greatest(F.lit(0), F.floor(d * s + F.lit(0.5)))
        ).cast("int"),
    )
    return embeddings.select(id_col, codes.alias("codes"))


def sq_topk(
    embeddings: DataFrame | None,
    query: list[float],
    mins: list[float],
    maxs: list[float],
    k: int = 10,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """SQ8 ADC search: score each corpus vector by L2 from the query to
    its RECONSTRUCTION (min + code*step per dim) — dim multiply-adds
    over the codes table, never touching the float vectors. The per-dim
    affine terms (query minus min, decode step) are driver-computed
    literals; the fold is the same sequential zip_with/aggregate the
    exact-L2 path uses, so the DuckDB oracle matches bit-for-bit.

    Pass a prebuilt ``codes`` table (the persisted artifact) to skip
    encoding at query time — the production path.

    Output: (vec_id, dist, rank) — dist is the ADC L2, rounded to 6.
    """
    if codes is None:
        if embeddings is None:
            raise ValueError("need embeddings to encode, or a prebuilt codes table")
        codes = sq_encode(embeddings, mins, maxs, levels, id_col, vec_col)
    a = [float(q) - float(mn) for q, mn in zip(query, mins)]
    al = F.array(*[F.lit(float(v)) for v in a])
    st = F.array(*[F.lit(float(v)) for v in _sq_steps(mins, maxs, levels)])
    cs = F.zip_with(F.col("codes"), st, lambda c, s: c.cast("double") * s)
    terms = F.zip_with(al, cs, lambda av, cv: F.pow(av - cv, F.lit(2)))
    dist2 = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    scored = codes.select(id_col, F.round(F.sqrt(dist2), 6).alias("dist"))
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def sq_topk_rerank(
    embeddings: DataFrame,
    query: list[float],
    mins: list[float],
    maxs: list[float],
    k: int = 10,
    shortlist: int = 50,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """SQ8 serving architecture (mirrors :func:`pq_topk_rerank`): ADC
    over the byte codes picks a ``shortlist``, exact L2 against the
    fetched full vectors reranks just those. At 100 TB the codes table
    is the RAM-resident scan; the left_semi fetch touches ``shortlist``
    rows.

    Output: (vec_id, dist, rank) — dist is the EXACT L2, rounded to 6.
    """
    cand = sq_topk(
        embeddings, query, mins, maxs, k=shortlist, levels=levels,
        id_col=id_col, vec_col=vec_col, codes=codes,
    ).select(id_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = embeddings.join(cand, id_col, "left_semi").select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


# --- IVF-PQ: coarse cells + PQ over residuals ------------------------------
#
# The FAISS IndexIVFPQ architecture (Jegou, Douze & Schmid, TPAMI 2011
# §IV) — the standard billion-scale serving index: route each vector to
# its nearest coarse cell, PQ-encode the RESIDUAL (vector minus cell
# center), and at query time probe only the n_probe nearest cells,
# scoring codes with a PER-CELL lookup table built from the query's
# residual against that cell. Residual encoding is what makes shared
# codebooks accurate: residuals from every cell live near the origin,
# so one codebook serves all cells. Reference analog: SURVEY §2.3 J4.


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    r_cols: list[list[float]] | None = None,
) -> DataFrame:
    """Encode to (vec_id, cell, codes): nearest coarse cell, then PQ
    codes of the residual — one row-local Arrow kernel, shuffle-free;
    at scale the output persists partitioned by cell (the IVF store
    layout), 4 B + m bytes per vector.

    Pass an :class:`HKMQuantizer` as ``centroids`` for corpus-scaled
    cell counts: assignment then descends the tree (O(branch * log
    n_cells) per row instead of a flat O(n_cells) argmin) and the
    whole encode runs as one Arrow kernel (:func:`ivfpq_encode_hkm`).
    """
    if isinstance(centroids, HKMQuantizer):
        return ivfpq_encode_hkm(
            embeddings, centroids, codebooks, id_col, vec_col, r_cols=r_cols
        )
    # One Arrow kernel per batch (guide §4.2): flat-centroid argmin,
    # residual, per-subspace code argmin — all over sequential-fold
    # distances (:func:`_seqfold_sq_dists`), so cell, residual and
    # codes are bit-identical to the unrolled nearest_cell +
    # pq_code_expr expression tree this replaces (which was exact but
    # interpreted, and needed let-binding gymnastics to keep task
    # binaries under control).
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    _assert_pow_square_identity(embeddings.sparkSession)
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    rot = (
        np.asarray(r_cols, dtype=np.float64).T if r_cols is not None else None
    )
    pbc = embeddings.sparkSession.sparkContext.broadcast((cents, books, rot))
    id_field = embeddings.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def encode(batches):
        cts, bks, rw = pbc.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cell": pd.Series([], dtype=object),
                        "codes": pd.Series([], dtype=object),
                    }
                )
                continue
            mask, mat = _vec_matrix(pdf, vec_col)
            if mask.any():
                if rw is not None:
                    mat = _rotate_np(mat, rw)
                cells = _seqfold_sq_dists(mat, cts).argmin(axis=1)
                res = mat - cts[cells]
                cell_out = _scatter_rows(mask, cells.astype(np.int32))
                code_out = _scatter_rows(mask, _pq_codes_np(res, bks))
            else:
                cell_out = [None] * len(pdf)
                code_out = [None] * len(pdf)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": pd.Series(cell_out, dtype=object),
                    "codes": code_out,
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema=out_schema
    )


def ivfpq_encode_hkm(
    embeddings: DataFrame,
    quantizer: "HKMQuantizer",
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    r_cols: list[list[float]] | None = None,
) -> DataFrame:
    """Tree-quantizer IVF-PQ encode as ONE Arrow kernel per batch:
    greedy HKM descent picks the cell, the residual against that
    leaf's center is PQ-coded by a vectorized per-subspace argmin
    (first-tie, matching :func:`pq_code_expr`). O(branch * log
    n_cells * dim + m * n_codes * dsub) per row regardless of leaf
    count — the encode that stays linear when n_cells grows with the
    corpus. Output: (id, cell int, codes array<int>); the id column
    keeps its input type (any Arrow-compatible id works here — the
    kernel passes it through untouched)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    _assert_pow_square_identity(embeddings.sparkSession)
    books = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    m_sub, _, dsub = books.shape
    rot = (
        np.asarray(r_cols, dtype=np.float64).T if r_cols is not None else None
    )
    pbc = embeddings.sparkSession.sparkContext.broadcast(
        (quantizer.payload(), quantizer.leaf_centers(), books, rot)
    )
    id_field = embeddings.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def encode(batches):
        payload, leaves, bks, rw = pbc.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cell": pd.Series([], dtype=np.int32),
                        "codes": pd.Series([], dtype=object),
                    }
                )
                continue
            mat = np.vstack(pdf[vec_col].values).astype(np.float64)
            if rw is not None:
                mat = _rotate_np(mat, rw)
            cells = hkm_descend(mat, payload)
            res = mat - leaves[cells]
            codes = np.empty((len(mat), m_sub), dtype=np.int32)
            for s in range(m_sub):
                sub = res[:, s * dsub : (s + 1) * dsub]
                d = ((sub[:, None, :] - bks[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cells.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema=out_schema
    )


def _ivfpq_residual_luts(
    query: list[float],
    centroids,
    codebooks: list[list[list[float]]],
    probes: list[int],
) -> dict[int, list[list[float]]]:
    """Per probed cell: the residual ADC lookup table
    ``lut[cell][s][code] = ||res_q[s] - codebook[s][code]||^2`` where
    ``res_q = query - center(cell)`` — built with the same Python
    sequential fold as pq_topk's LUT so Spark, DuckDB, and the Arrow
    batch kernel all score bit-identically."""
    dim = len(query)
    dsub = len(codebooks[0][0])
    luts: dict[int, list[list[float]]] = {}
    for c in probes:
        resq = [query[i] - centroids[c][i] for i in range(dim)]
        luts[c] = [
            [
                sum(((b[i] - resq[s * dsub + i]) ** 2 for i in range(dsub)), 0.0)
                for b in book
            ]
            for s, book in enumerate(codebooks)
        ]
    return luts


def ivfpq_topk(
    embeddings: DataFrame | None,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    cell_seed: int = 43,
    code_seed: int = 44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    alpha: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """IVF-PQ ADC search: pick the n_probe cells nearest the query
    (driver-side, same sequential fold + cell-index tie rule as
    ivf_topk), build ONE LUT per probed cell from the query's residual
    there (n_probe * m * n_codes driver floats), then score only rows
    in probed cells — per row: a cell-dispatched chain of m lookups.
    Cost shape at 100 TB: the scan touches ~n_probe/n_cells of the
    codes table (partition-pruned when the store is cell-partitioned),
    compute is m adds per candidate, memory is codes not vectors.

    Output: (vec_id, dist, rank) — ADC L2 approximation, rounded 6.

    An :class:`HKMQuantizer` as ``centroids`` switches to the
    corpus-scaled-cell regime: probe cells are the n_probe nearest
    LEAF centers (a driver-side numpy scan — O(n_leaves * dim) floats,
    fine into the millions of cells), and inline encoding goes through
    the Arrow tree kernel.

    ``alpha``: replace the fixed ``n_probe`` with the calibrated
    per-query distance-ratio rule (:func:`ivf_probe_cells_alpha`,
    optionally budget-capped by ``max_probe``) — the same declarative
    recall knob the uncompressed IVF path carries, now on the
    compressed index.
    """
    dim = len(query)
    tree = None
    if isinstance(centroids, HKMQuantizer):
        tree = centroids
        centroids = [[float(v) for v in c] for c in tree.leaf_centers()]
        n_cells = len(centroids)
        dq = (
            (tree.leaf_centers() - np.asarray(query, dtype=np.float64)) ** 2
        ).sum(axis=1)
        cdist = [float(v) for v in dq]
    elif centroids is None:
        centroids = random_centroids(dim, n_cells, cell_seed)
        cdist = None
    else:
        n_cells = len(centroids)
        cdist = None
    if codebooks is None:
        codebooks = random_codebooks(dim, m, n_codes, code_seed)
    if cdist is None:
        cdist = [
            sum(((c[i] - query[i]) ** 2 for i in range(dim)), 0.0)
            for c in centroids
        ]
    order = sorted(range(n_cells), key=lambda c: (cdist[c], c))
    if alpha is not None:
        if tree is not None:
            d = np.sqrt(np.asarray(cdist, dtype=np.float64))
            bound = (1.0 + float(alpha)) * float(d.min())
            probes = [c for c in order if d[c] <= bound]
        else:
            probes = ivf_probe_cells_alpha(query, centroids, alpha)
        if max_probe is not None:
            probes = probes[:max_probe]
    else:
        probes = order[:n_probe]
    luts = _ivfpq_residual_luts(query, centroids, codebooks, probes)
    if codes is None:
        if embeddings is None:
            raise ValueError("need embeddings to encode, or a prebuilt codes table")
        codes = ivfpq_encode(
            embeddings, tree if tree is not None else centroids,
            codebooks, id_col, vec_col,
        )
    cand = codes.filter(F.col("cell").isin(probes))
    expr = None
    for s in range(len(codebooks)):
        term = None
        for c in probes:
            lut_lit = F.array(*[F.lit(float(v)) for v in luts[c][s]])
            pick = F.element_at(lut_lit, F.col("codes")[s] + F.lit(1))
            term = (
                F.when(F.col("cell") == c, pick)
                if term is None
                else term.when(F.col("cell") == c, pick)
            )
        expr = term if expr is None else expr + term
    scored = cand.select(id_col, F.round(F.sqrt(expr), 6).alias("dist"))
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ivfpq_topk_rerank(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ serving path: ADC shortlist from the probed cells, exact
    L2 rerank of the fetched shortlist vectors (mirrors
    :func:`pq_topk_rerank`). Output: (vec_id, dist, rank), exact L2."""
    dim = len(query)
    cand = ivfpq_topk(
        embeddings, query, k=shortlist, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
        centroids=centroids, codebooks=codebooks, codes=codes,
    ).select(id_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    scored = embeddings.join(cand, id_col, "left_semi").select(
        id_col, F.round(l2_distance(F.col(vec_col), qlit), 6).alias("dist")
    )
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )

def ivfpq_topk_store(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    embeddings: DataFrame | None = None,
    vec_col: str = "embedding",
    alpha: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """IVF-PQ search against a persisted :func:`..sources.tables.
    write_ivfpq_index` store: cells, codebooks, and codes all come from
    the store, so the residual LUTs always match the codes, and the
    probe's ``cell IN (...)`` filter prunes cell DIRECTORIES at the
    source (the scan reads ~n_probe/n_cells of the index). Plain ADC
    top-k by default; pass ``shortlist`` + ``embeddings`` for the
    shortlist-then-exact-rerank serving path."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        read_ivfpq_index,
    )

    codes, cents, books = read_ivfpq_index(spark, path)
    if shortlist is None:
        return ivfpq_topk(
            None, query, k=k, n_probe=n_probe, id_col=id_col,
            centroids=cents, codebooks=books, codes=codes,
            alpha=alpha, max_probe=max_probe,
        )
    if embeddings is None:
        raise ValueError("shortlist rerank needs the embeddings DataFrame")
    if alpha is not None:
        raise ValueError(
            "alpha probing applies to the ADC path; rerank fixes n_probe"
        )
    return ivfpq_topk_rerank(
        embeddings, query, k=k, shortlist=shortlist, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
        centroids=cents, codebooks=books, codes=codes,
    )

def ivfpq_topk_batch(
    embeddings: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    cell_seed: int = 43,
    code_seed: int = 44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids=None,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    alpha: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """Batch IVF-PQ ADC: one job for a whole query set — the IVF-PQ
    twin of :func:`ivf_topk_batch`. Per-query probe cells and residual
    LUTs are built driver-side (same fold + tie rules as
    :func:`ivfpq_topk`, n_queries * n_probe * m * n_codes floats), the
    (query_id, cell) probe table broadcasts into the codes join, and
    an Arrow kernel scores each candidate with its (query, cell) LUT —
    m adds per candidate, subspaces accumulated in the same order as
    the point path's expression chain so results are bit-identical per
    query. sqrt + round stay JVM-side (one rounding convention
    everywhere). Accepts flat centroids or an :class:`HKMQuantizer`.

    Output: (query_id, vec_id, dist, rank<=k) per query.
    """
    import pandas as pd

    spark = queries.sparkSession
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, dist double, rank int"
        )
    dim = len(qrows[0][query_vec_col])
    tree = None
    if isinstance(centroids, HKMQuantizer):
        tree = centroids
        leaves = tree.leaf_centers()
        centroids = [[float(v) for v in c] for c in leaves]
    elif centroids is None:
        centroids = random_centroids(dim, n_cells, cell_seed)
    if codebooks is None:
        codebooks = random_codebooks(dim, m, n_codes, code_seed)
    cent_mat = np.asarray(centroids, dtype=np.float64)
    probe_rows = []
    luts: dict[tuple[int, int], np.ndarray] = {}
    for r in qrows:
        qid = int(r[query_id_col])
        qv = [float(v) for v in r[query_vec_col]]
        if tree is not None:
            dq = ((leaves - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
            cdist = [float(v) for v in dq]
        else:
            # same vectorized path as the HKM branch above; cdist only
            # ranks cells for the top-n_probe pick here (the alpha
            # branch recomputes its boundary-exact fold itself)
            dq = ((cent_mat - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
            cdist = [float(v) for v in dq]
        order = sorted(range(len(centroids)), key=lambda c: (cdist[c], c))
        if alpha is not None:
            if tree is not None:
                d = np.sqrt(np.asarray(cdist, dtype=np.float64))
                bound = (1.0 + float(alpha)) * float(d.min())
                probes = [c for c in order if d[c] <= bound]
            else:
                probes = ivf_probe_cells_alpha(qv, centroids, alpha)
            if max_probe is not None:
                probes = probes[:max_probe]
        else:
            probes = order[:n_probe]
        plut = _ivfpq_residual_luts(qv, centroids, codebooks, probes)
        for c in probes:
            probe_rows.append((qid, int(c)))
            luts[(qid, int(c))] = np.asarray(plut[c], dtype=np.float64)
    if codes is None:
        if embeddings is None:
            raise ValueError("need embeddings to encode, or a prebuilt codes table")
        codes = ivfpq_encode(
            embeddings, tree if tree is not None else centroids,
            codebooks, id_col, vec_col,
        )
    probe_df = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, cell int"
    )
    # explicit probed-cell filter BEFORE the join: the broadcast hash
    # join alone streams the ENTIRE codes table (O(N) per batch); the
    # probe set is driver-known, so an isin literal gives the scan
    # static partition pruning on a cell-partitioned store — the same
    # directory-level skip the point path gets — and bounds the join
    # input by probed-cell occupancy
    probed_cells = sorted({c for _, c in probe_rows})
    cand = codes.filter(F.col("cell").isin(probed_cells)).join(
        F.broadcast(probe_df), "cell"
    )
    bl = spark.sparkContext.broadcast(luts)
    m_sub = len(codebooks)

    def score(batches):
        lut_map = bl.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {
                        query_id_col: pd.Series([], dtype=np.int64),
                        id_col: pdf[id_col],
                        "adc2": pd.Series([], dtype=np.float64),
                    }
                )
                continue
            codes_m = np.vstack(pdf["codes"].values).astype(np.int64)
            out = np.zeros(len(pdf), dtype=np.float64)
            grp = pdf.groupby([query_id_col, "cell"], sort=False).indices
            for (qid, cell), idx in grp.items():
                lut = lut_map[(int(qid), int(cell))]
                acc = np.zeros(len(idx), dtype=np.float64)
                sub_codes = codes_m[idx]
                for s in range(m_sub):
                    acc += lut[s, sub_codes[:, s]]
                out[idx] = acc
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].values,
                    id_col: pdf[id_col].values,
                    "adc2": out,
                }
            )

    scored = cand.select(query_id_col, id_col, "cell", "codes").mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, adc2 double"
    ).select(
        query_id_col,
        id_col,
        F.round(F.sqrt(F.col("adc2")), 6).alias("dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )

def ivfpq_topk_batch_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids=None,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Batch IVF-PQ serving: per-query ADC shortlists from ONE batch
    probe job, then one exact-L2 rerank of the fetched shortlist
    vectors — the whole query set in two shuffles regardless of batch
    size. Output: (query_id, vec_id, dist, rank<=k), exact L2."""
    short = ivfpq_topk_batch(
        embeddings, queries, k=shortlist, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        centroids=centroids, codebooks=codebooks, codes=codes,
    ).select(query_id_col, id_col)
    qv = queries.select(query_id_col, query_vec_col)
    # broadcast the (small) shortlist into the embeddings scan: the
    # corpus side fetches shortlist vectors without ever shuffling
    scored = (
        embeddings.select(id_col, vec_col)
        .join(F.broadcast(short), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                l2_distance(F.col(vec_col), F.col(query_vec_col)), 6
            ).alias("dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )
