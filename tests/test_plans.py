"""Physical-plan audits: the scale claims (broadcast point probes,
column pruning, filter pushdown, broadcast dims) asserted against the
executed plans, so a regression that silently reintroduces a shuffle
or a full-width scan fails CI instead of a 100 TB run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.plans import queries as Q
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

PARAMS = MinHashParams()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS).cache()
    return sigs, bands


def test_point_query_probe_is_broadcast_join(spark, index):
    sigs, bands = index
    qs = sigs.filter(F.col("doc_id") == 3).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    top = lsh.lsh_topk(sigs, bands, qs, PARAMS, k=5, n_queries=1)
    plan = _plan(top)
    # <=32 query band rows broadcast against the index: the bands table
    # itself must NOT be re-shuffled to serve a point query
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(band_id") == 0


def test_two_column_projection_prunes_parquet_scan(spark, sf_dir):
    # a cached documents relation from an earlier test would swap the
    # parquet scan for InMemoryTableScan and hide ReadSchema; cached
    # frames elsewhere re-materialize lazily, so this is safe
    spark.catalog.clearCache()
    df = Q.q_shingle_stats(spark, sf_dir)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in scan and "doc_id" in scan
    # the documents table carries more columns; none may be scanned
    all_cols = set(load_table(spark, sf_dir, "documents").columns)
    extra = all_cols - {"doc_id", "text"}
    assert extra, "fixture should have extra columns for this test to bite"
    for col in extra:
        assert col not in scan, f"column {col} scanned but never used"


def test_filters_reach_the_parquet_source(spark, sf_dir):
    spark.catalog.clearCache()
    events = load_table(spark, sf_dir, "events")
    df = events.filter(F.col("user_id") == 7).select("user_id", "event_type")
    plan = _plan(df)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "user_id" in pushed and "EqualTo" in pushed


def test_small_dims_broadcast_in_tpch_join(spark, sf_dir):
    plan = _plan(Q.q_orders_by_region(spark, sf_dir))
    # region (5 rows) and nation (25 rows) must ride broadcasts; the
    # only hash-shuffle joins allowed are on the fact-table keys
    assert plan.count("BroadcastHashJoin") >= 2


def test_partitioned_ann_store_prunes_unprobed_buckets(spark, sf_dir, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_embeddings_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    store = str(tmp_path / "ann_store")
    write_embeddings_partitioned(emb, store, dim=dim, n_planes=4)
    query = [float(v) for v in emb.first()["embedding"]]
    probed = ann.ann_lsh_topk_store(
        spark, store, query, k=5, n_planes=4, n_probe=2
    )
    # the store's _index_meta sidecar must supply the config when omitted
    from_meta = ann.ann_lsh_topk_store(spark, store, query, k=5, n_probe=2)
    assert sorted(map(tuple, from_meta.collect())) == sorted(
        map(tuple, probed.collect())
    )
    plan = _plan(probed)
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    # the bucket IN-filter must land on the PARTITION column (directory
    # pruning at the source), not as a post-scan row filter
    assert "bucket" in scan.split("PartitionFilters")[1][:120]
    # identical answers to the in-memory probe at the same config
    mem = ann.ann_lsh_topk(emb, query, k=5, n_planes=4, n_probe=2)
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, mem.collect()))


def test_qed_partitioned_store_prunes_and_matches_inline(spark, sf_dir, tmp_path):
    """The QED store must prune out-of-window partition directories at
    the source (PartitionFilters on the coarse-bin column) and answer
    identically to the in-memory prune-score-topk pipeline."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import qed
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_qed_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = qed.histogram_edges(emb, n_bins=64).collect()
    query = [float(v) for v in emb.first()["embedding"]]
    store = str(tmp_path / "qed_store")
    write_qed_partitioned(emb, store, edges, n_part_bins=16)
    probed = qed.qed_topk_store(
        spark, store, query, edges, k=5, n_bins=64, p_fraction=0.1
    )
    plan = _plan(probed)
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "qed_bin" in scan.split("PartitionFilters")[1][:120]
    mem = qed.qed_prune_score_topk(emb, query, edges, k=5, n_bins=64, p_fraction=0.1)
    got = sorted(map(tuple, probed.collect()))
    assert got == sorted(map(tuple, mem.collect())) and len(got) > 0


def test_dedup_pairs_band_join_shuffles_on_compact_key_only(spark, index):
    sigs, bands = index
    # raw path: the compressed variant adds ONE deliberate groupBy on
    # the sig column (the distinct-signature build), which would muddy
    # this audit of the band join itself. A hint past the broadcast
    # gate selects the fold regime, the one that shuffles.
    pairs = lsh.self_join_pairs(
        bands,
        sigs,
        PARAMS,
        0.8,
        n_docs=lsh.VECTORIZE_MAX_SIGS + 1,
        compress_identical=False,
    )
    plan = _plan(pairs)
    # the quadratic stage groups bucket members: the shuffle key is the
    # compact (band_id, band_hash) pair, never signature payloads
    assert "Exchange hashpartitioning(band_id" in plan
    assert "Exchange hashpartitioning(sig" not in plan


def test_dedup_pairs_broadcast_regime_never_shuffles(spark, index):
    sigs, bands = index
    pairs = lsh.self_join_pairs(
        bands, sigs, PARAMS, 0.8, n_docs=500, compress_identical=False
    )
    plan = _plan(pairs)
    # one narrow kernel stage over a band-id range: nothing to shuffle,
    # nothing for AQE to coalesce
    assert "MapInPandas" in plan and "Range" in plan
    assert "Exchange" not in plan


def _count_jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_default_args_launch_no_extra_count_job(spark, index):
    """The scorer choice must not cost a dedicated count probe: a
    plan-bounded query set (limit-capped / VALUES) proves the fold
    regime from the plan (zero jobs), and the vectorized path derives
    the count from the one collect the scorer needed anyway —
    default-argument calls launch exactly as many jobs as
    hint-passing calls."""
    sigs, bands = index
    qrows = (
        sigs.filter(F.col("doc_id") == 3)
        .select(F.col("doc_id").alias("query_id"), "sig")
        .collect()
    )
    qs_local = spark.createDataFrame(qrows).limit(1)
    assert lsh._plan_max_rows(qs_local) == 1
    point = lambda **kw: lsh.lsh_topk(  # noqa: E731
        sigs, bands, qs_local, PARAMS, k=5, **kw
    ).collect()
    point()  # warm (broadcast/codegen jobs settle)
    n_def = _count_jobs(spark, "probe-point-default", point)
    n_hint = _count_jobs(
        spark, "probe-point-hinted", lambda: point(n_queries=1)
    )
    assert n_def == n_hint

    qsN = sigs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    n_q = qsN.count()
    assert n_q > lsh.SMALL_QUERY_FOLD  # vectorized regime
    batch = lambda **kw: lsh.lsh_topk(  # noqa: E731
        sigs, bands, qsN, PARAMS, k=5, **kw
    ).collect()
    batch()  # warm
    n_def = _count_jobs(spark, "probe-batch-default", batch)
    n_hint = _count_jobs(
        spark, "probe-batch-hinted", lambda: batch(n_queries=n_q)
    )
    assert n_def == n_hint


def test_ann_store_append_matches_full_build(spark, sf_dir, tmp_path):
    """Appending new vectors to the partitioned ANN store must leave
    probes identical to a store built over the full corpus at once."""
    from pyspark.sql import functions as F

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_embeddings_partitioned,
        write_embeddings_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    full, inc = str(tmp_path / "ann_full"), str(tmp_path / "ann_inc")
    write_embeddings_partitioned(emb, full, dim=dim, n_planes=4)
    write_embeddings_partitioned(
        emb.filter(F.col("vec_id") % 2 == 0), inc, dim=dim, n_planes=4
    )
    append_embeddings_partitioned(
        emb.filter(F.col("vec_id") % 2 == 1), inc, dim=dim, n_planes=4
    )
    query = [float(v) for v in emb.first()["embedding"]]
    a = ann.ann_lsh_topk_store(spark, full, query, k=5, n_planes=4, n_probe=2)
    b = ann.ann_lsh_topk_store(spark, inc, query, k=5, n_planes=4, n_probe=2)
    got_a, got_b = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert got_a == got_b and len(got_a) == 5


def test_partitioned_ivf_store_prunes_and_matches_inline(spark, sf_dir, tmp_path):
    """The IVF store probe must prune unprobed cells at the source
    (PartitionFilters) and answer identically to the inline ivf_topk
    at the same centroids."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_ivf_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    cents = ann.random_centroids(dim, n_cells=8, seed=43)
    from pyspark.sql import functions as F

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_ivf_partitioned,
    )

    store = str(tmp_path / "ivf_store")
    write_ivf_partitioned(emb.filter(F.col("vec_id") % 2 == 0), store, cents)
    append_ivf_partitioned(emb.filter(F.col("vec_id") % 2 == 1), store, cents)
    query = [float(v) for v in emb.first()["embedding"]]
    probed = ann.ivf_topk_store(spark, store, query, cents, k=5, n_probe=3)
    from_meta = ann.ivf_topk_store(spark, store, query, k=5, n_probe=3)
    assert sorted(map(tuple, from_meta.collect())) == sorted(
        map(tuple, probed.collect())
    )
    plan = _plan(probed)
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in scan.split("PartitionFilters")[1][:120]
    mem = ann.ivf_topk(emb, query, k=5, n_cells=8, n_probe=3, centroids=cents)
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, mem.collect()))


def test_store_append_rejects_mismatched_quantizer(spark, sf_dir, tmp_path):
    """_index_meta must stop an append under a different quantizer
    config — probes would silently look in the wrong partitions."""
    import pytest as _pytest

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_embeddings_partitioned,
        append_ivf_partitioned,
        write_embeddings_partitioned,
        write_ivf_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    s1 = str(tmp_path / "s1")
    write_embeddings_partitioned(emb, s1, dim=dim, n_planes=4, seed=42)
    with _pytest.raises(ValueError, match="different quantizer"):
        append_embeddings_partitioned(emb, s1, dim=dim, n_planes=8, seed=42)
    with _pytest.raises(ValueError, match="different quantizer"):
        append_embeddings_partitioned(emb, s1, dim=dim, n_planes=4, seed=7)

    s2 = str(tmp_path / "s2")
    c1 = ann.random_centroids(dim, n_cells=4, seed=43)
    c2 = ann.random_centroids(dim, n_cells=4, seed=44)
    write_ivf_partitioned(emb, s2, c1)
    with _pytest.raises(ValueError, match="different quantizer"):
        append_ivf_partitioned(emb, s2, c2)


def test_ivf_store_hkm_round_trip_and_guard(spark, sf_dir, tmp_path):
    """HKM-quantized IVF store: tree-descent assignment at build, the
    tree serialized into _index_meta, probes self-configure from the
    sidecar's leaf centers, appends require the SAME tree."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_ivf_partitioned,
        read_store_meta,
        write_ivf_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    X = np.array([r["embedding"] for r in emb.filter(F.col("vec_id") < 200).collect()])
    tree = ann.hkm_train(X, n_leaves=6, branch=3, seed=11)
    store = str(tmp_path / "ivf_hkm_store")
    write_ivf_partitioned(emb.filter(F.col("vec_id") % 2 == 0), store, tree)
    append_ivf_partitioned(emb.filter(F.col("vec_id") % 2 == 1), store, tree)
    meta = read_store_meta(store)
    assert meta["kind"] == "ivf_hkm"
    rt = ann.HKMQuantizer.from_dict(meta["tree"])
    assert all(
        (a["centers"] == b["centers"]).all() and (a["parent"] == b["parent"]).all()
        for a, b in zip(rt.levels, tree.levels)
    )
    # every corpus row landed under its descent leaf
    n = emb.count()
    stored = spark.read.parquet(store)
    assert stored.count() == n
    assert stored.select("cell").distinct().count() <= tree.n_leaves
    # probing from the sidecar == probing with explicit leaf centers
    query = [float(v) for v in emb.first()["embedding"]]
    leafc = [[float(x) for x in c] for c in tree.leaf_centers()]
    explicit = ann.ivf_topk_store(spark, store, query, leafc, k=5, n_probe=3)
    from_meta = ann.ivf_topk_store(spark, store, query, k=5, n_probe=3)
    got = sorted(map(tuple, from_meta.collect()))
    assert got == sorted(map(tuple, explicit.collect())) and len(got) == 5
    # a different tree is refused
    other = ann.hkm_train(X, n_leaves=6, branch=3, seed=12)
    with _pytest.raises(ValueError, match="different quantizer"):
        append_ivf_partitioned(emb.limit(3), store, other)
