"""Dedup family, ANN operators, text-analysis functions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import textstats
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann, dedup
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_exact_duplicates_finds_planted(spark, docs):
    planted = spark.createDataFrame(
        [(9001, "Hello   World"), (9002, "hello world"), (9003, "different text")],
        "doc_id bigint, text string",
    )
    dups = dedup.exact_duplicates(planted).collect()
    assert {(r["doc_id"], r["canonical_id"]) for r in dups} == {
        (9001, 9001),
        (9002, 9001),
    }


def test_minhash_lsh_duplicates_find_planted_near_dup(spark, docs):
    base = docs.filter(F.col("doc_id") == 3).first()["text"]
    toks = base.split(" ")
    mutated = " ".join(toks[:-2])  # drop 2 words -> high Jaccard
    corpus = docs.select("doc_id", "text").union(
        spark.createDataFrame([(90001, mutated)], "doc_id bigint, text string")
    )
    pairs = dedup.minhash_lsh_duplicates(corpus, threshold=0.7).collect()
    assert any(
        {r["doc_a"], r["doc_b"]} == {3, 90001} for r in pairs
    ), f"planted pair missing from {len(pairs)} pairs"


def test_paragraph_dedup_first_wins_and_reassembly(spark):
    """Near-duplicate paragraphs drop first-wins across docs (smallest
    (doc_id, position) survives), survivors reassemble in original
    order with the blank-line separator, fully-deduped docs come back
    with empty text, and the plan never windows or sorts globally —
    the quadratic work stays inside the band-bucket blocking."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams

    rows = [
        (0, "alpha beta gamma delta epsilon\n\nzeta eta theta iota kappa"),
        # same first paragraph as doc 0 (drop), plus a unique one (keep)
        (1, "alpha beta gamma delta epsilon\n\n\nunique one two three four"),
        # both paragraphs duplicate doc 0's, in swapped order -> empty
        (2, "  \n\nzeta eta theta iota kappa\n\nalpha beta gamma delta epsilon"),
        # near-dup (one word dropped) of doc 0's first paragraph
        (3, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.paragraph_dedup(df, MinHashParams(), threshold=0.75)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["text"] == rows[0][1]  # first occurrences all survive
    assert (got[0]["n_paras"], got[0]["n_kept"]) == (2, 2)
    assert got[1]["text"] == "unique one two three four"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (2, 1)
    assert got[2]["text"] == "" and got[2]["n_kept"] == 0
    assert got[2]["n_paras"] == 2  # whitespace-only segment dropped
    assert got[3]["text"] == "" and got[3]["n_kept"] == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # reassembly is an aggregation, never a global Sort over paragraphs
    assert "TakeOrderedAndProject" not in plan


def test_split_paragraphs_positions_survive_empty_segments(spark):
    df = spark.createDataFrame(
        [(7, "\n\na b\n\nc d"), (8, "a b\n\n \n\nc d")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["para_idx"], r["para"])
        for r in dedup.split_paragraphs(df).collect()
    }
    # a leading separator yields an empty segment 0: dropped, but the
    # survivors keep their original post-split indexes (1 and 2);
    # whitespace-only runs BETWEEN paragraphs are absorbed by the
    # greedy separator itself (doc 8 splits clean at 0 and 1)
    assert got == {
        (7, 1, "a b"), (7, 2, "c d"),
        (8, 0, "a b"), (8, 1, "c d"),
    }


def test_simhash_identical_docs_distance_zero(spark):
    two = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z")],
        "doc_id bigint, text string",
    )
    pairs = dedup.simhash_duplicates(two, max_hamming=0).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}


def test_ngram_jaccard_exact_value(spark):
    # doc1 3-grams: {a b c, b c d}; doc2 3-grams: {a b c, b c e} -> J=1/3
    two = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string"
    )
    pairs = dedup.ngram_jaccard_duplicates(two, n=3, threshold=0.1).collect()
    assert len(pairs) == 1
    assert pairs[0]["jaccard"] == pytest.approx(1 / 3)


def test_embedding_cosine_duplicates_planted(spark, emb):
    v = emb.filter(F.col("vec_id") == 5).first()["embedding"]
    near = [x * 1.001 for x in v]  # same direction -> cos ~ 1
    corpus = emb.select("vec_id", "embedding").union(
        spark.createDataFrame([(90005, near)], "vec_id bigint, embedding array<float>")
    )
    pairs = dedup.embedding_cosine_duplicates(corpus, dim=64, threshold=0.999).collect()
    assert any({r["vec_a"], r["vec_b"]} == {5, 90005} for r in pairs)


def test_ann_lsh_includes_self_and_orders_by_cosine(emb):
    qvec = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    res = ann.ann_lsh_topk(emb, qvec, k=5).collect()
    assert res[0]["vec_id"] == 7 and res[0]["cos_sim"] == pytest.approx(1.0)
    sims = [r["cos_sim"] for r in res]
    assert sims == sorted(sims, reverse=True)


def test_ivf_topk_matches_bruteforce_when_probing_all_cells(emb):
    qvec = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    res = ann.ivf_topk(emb, qvec, k=5, n_cells=8, n_probe=8).collect()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    dists = np.sqrt(((mat - np.asarray(qvec)) ** 2).sum(axis=1))
    expected = [int(ids[i]) for i in np.lexsort((ids, dists))[:5]]
    assert [r["vec_id"] for r in res] == expected


def test_textstats_hand_values(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, ""), (3, "a b-c 12 d!")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("n"),
            textstats.bpe_ish_token_count(F.col("text")).alias("bpe"),
            textstats.distinct_token_ratio(F.col("text")).alias("dtr"),
            textstats.stopword_ratio(F.col("text")).alias("swr"),
            textstats.lang_id(F.col("text")).alias("lang"),
            textstats.doc_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[1]["n"] == 5
    assert out[1]["dtr"] == pytest.approx(4 / 5)
    assert out[1]["swr"] == pytest.approx(3 / 5)  # the, and, the
    assert out[1]["lang"] == "en"
    assert out[2]["n"] == 0 and out[2]["fp"] == 0
    # "a b-c 12 d!" -> pieces: a, b, -, c, 12, d, ! = 7
    assert out[3]["bpe"] == 7


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha  beta")],
        "doc_id bigint, text string",
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", textstats.doc_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] != fps[2]  # order matters
    assert fps[1] == fps[3]  # whitespace doesn't


def test_lang_id_on_real_docs_lowercase_markers(docs):
    # corpus text is synthetic English-ish DB words; lang_id should be
    # deterministic and never null
    n_null = docs.select(textstats.lang_id(F.col("text")).alias("l")).filter(
        F.col("l").isNull()
    ).count()
    assert n_null == 0


def test_connected_components_matches_union_find(spark):
    # graph: {1,2,3} via 1-2, 2-3; {4,5}; 6 isolated; 7-8-9 chain
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9)],
        "doc_a bigint, doc_b bigint",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "doc_id bigint"
    )
    got = {
        r["doc_id"]: r["group_id"]
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7, 8: 7, 9: 7}


def test_connected_components_long_chain_converges(spark):
    # path graph 0-1-2-...-12: worst-case diameter for label propagation
    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    got = dedup.connected_components(pairs, nodes).collect()
    assert all(r["group_id"] == 0 for r in got) and len(got) == n


def test_multiprobe_buckets_deterministic_and_superset(spark, sf_dir):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(v) for v in emb.first()["embedding"]]
    b1 = ann.probe_buckets(q, n_probe=1)
    b3 = ann.probe_buckets(q, n_probe=3)
    assert len(b1) == 1 and len(b3) == 3
    assert b3[0] == b1[0]
    assert len(set(b3)) == 3  # distinct buckets (single-bit flips)
    r1 = ann.ann_lsh_topk(emb, q, k=10, n_probe=1).collect()
    r3 = ann.ann_lsh_topk(emb, q, k=10, n_probe=3).collect()
    assert len(r3) >= len(r1)
    ids1 = {r["vec_id"] for r in r1}
    ids3 = {r["vec_id"] for r in r3}
    # multi-probe may displace tail results but scores only improve
    assert max(r["cos_sim"] for r in r3) >= max(r["cos_sim"] for r in r1)
    assert ids1 & ids3


def test_ivf_train_reduces_inertia_and_probes_work(emb):
    """Lloyd iterations must not increase inertia, and a trained
    quantizer must serve ivf_topk identically in shape/ordering."""
    cents0 = ann.random_centroids(64, n_cells=8, seed=43)
    i0 = ann.ivf_inertia(emb, cents0)
    trained = ann.ivf_train(emb, n_cells=8, n_iters=3, seed=43)
    i1 = ann.ivf_inertia(emb, trained)
    assert i1 <= i0 * (1 + 1e-12), (i0, i1)
    assert len(trained) == 8 and len(trained[0]) == 64

    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    rows = ann.ivf_topk(emb, qvec, k=5, n_probe=2, centroids=trained).collect()
    assert 0 < len(rows) <= 5
    ranked = sorted(rows, key=lambda r: r["rank"])
    dists = [r["dist"] for r in ranked]
    assert dists == sorted(dists)
    # probing every trained cell is exhaustive -> exact top-1 is the query itself
    full = ann.ivf_topk(emb, qvec, k=1, n_probe=8, centroids=trained).collect()
    assert full[0]["vec_id"] == 7


def test_probe_buckets_enumerates_multibit_sets():
    """n_probe must not silently cap at n_planes+1: perturbation SETS
    come out in nondecreasing total-|margin| order, all distinct."""
    from unittest.mock import patch

    margins = [0.5, 0.1, 0.9, 0.3]
    with patch.object(ann, "random_planes", lambda dim, n, seed: [[m] for m in margins]):
        out = ann.probe_buckets([1.0], n_planes=4, n_probe=16)
    assert len(out) == 16 and len(set(out)) == 16
    base = out[0]
    # first probes: the two cheapest single flips (planes 1 then 3),
    # then the {1,3} pair (0.4) BEFORE plane 0 alone (0.5)
    assert out[1] == base ^ 0b0010
    assert out[2] == base ^ 0b1000
    assert out[3] == base ^ 0b1010
    assert out[4] == base ^ 0b0001


def test_probe_plan_for_recall_prefix_and_monotone():
    """The recall-targeted plan is a PREFIX of probe_buckets' sequence
    (same heap, same order) whose length grows with the target, and
    whose estimate honestly reaches the target when it stops early."""
    import numpy as np

    rs = np.random.RandomState(11)
    q = [float(x) for x in rs.randn(16)]
    full = ann.probe_buckets(q, n_planes=8, seed=42, n_probe=256)
    prev_len = 0
    for target in (0.3, 0.6, 0.9, 0.99):
        buckets, est = ann.probe_plan_for_recall(
            q, n_planes=8, seed=42, target_recall=target, target_cos=0.9
        )
        assert buckets == full[: len(buckets)]  # exact prefix
        assert len(buckets) >= prev_len  # monotone in target
        prev_len = len(buckets)
        assert est >= target or len(buckets) == 256
    # an easier similarity target needs fewer probes than a harder one
    b_easy, _ = ann.probe_plan_for_recall(
        q, n_planes=8, seed=42, target_recall=0.9, target_cos=0.99
    )
    b_hard, _ = ann.probe_plan_for_recall(
        q, n_planes=8, seed=42, target_recall=0.9, target_cos=0.6
    )
    assert len(b_easy) <= len(b_hard)
    # max_probe caps the budget; the estimate then reports the shortfall
    b_cap, est_cap = ann.probe_plan_for_recall(
        q, n_planes=8, seed=42, target_recall=0.999, target_cos=0.5, max_probe=4
    )
    assert len(b_cap) <= 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="target_recall"):
        ann.probe_plan_for_recall(q, target_recall=1.5)
    with _pytest.raises(ValueError, match="target_cos"):
        ann.probe_plan_for_recall(q, target_cos=1.0)


def test_ann_target_recall_topk_matches_fixed_probe_twin(emb):
    """ann_lsh_topk_target_recall must answer exactly like ann_lsh_topk
    at the probe count its plan selected."""
    from pyspark.sql import functions as F

    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    buckets, est = ann.probe_plan_for_recall(
        qvec, n_planes=4, seed=42, target_recall=0.8, target_cos=0.9
    )
    got = ann.ann_lsh_topk_target_recall(
        emb, qvec, k=5, n_planes=4, seed=42, target_recall=0.8, target_cos=0.9
    )
    twin = ann.ann_lsh_topk(emb, qvec, k=5, n_planes=4, seed=42, n_probe=len(buckets))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, twin.collect()))
    assert est >= 0.8 or len(buckets) == 16


def test_cross_corpus_decontamination_flags_planted_contamination(spark):
    """A training doc that is a light mutation of a benchmark doc must
    be flagged against THAT benchmark doc; unrelated docs must not."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams

    bench = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog every single day"),
            (1, "completely different benchmark question about molecular biology"),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contamination: same text, case/spacing mutation
            (100, "The quick  brown fox jumps over the LAZY dog every single day"),
            (101, "an unrelated training document about cooking pasta at home"),
        ],
        "doc_id long, text string",
    )
    got = dedup.cross_corpus_duplicates(
        train, bench, MinHashParams(), threshold=0.5
    ).collect()
    flagged = {(r["doc_id"], r["ref_id"]) for r in got}
    assert (100, 0) in flagged
    assert all(d != 101 for d, _ in flagged)
    assert all(r["score"] >= 0.5 for r in got)
    # broadcast and shuffle paths agree
    got2 = dedup.cross_corpus_duplicates(
        train, bench, MinHashParams(), threshold=0.5, broadcast_ref=False
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_exhaustive_multiprobe_equals_exact_cosine(emb):
    """Probing every bucket (n_probe = 2^n_planes) is a full scan: the
    ANN answer must equal the exact cosine top-k."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import bruteforce
    from pyspark.sql import functions as F

    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = [
        (r["vec_id"], r["rank"])
        for r in ann.ann_lsh_topk(emb, qvec, k=5, n_planes=4, n_probe=16)
        .orderBy("rank")
        .collect()
    ]
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    expect = [
        (r["vec_id"], r["rank"])
        for r in bruteforce.cosine_topk(emb, q, k=5).orderBy("rank").collect()
    ]
    assert got == expect


def test_ann_batch_matches_per_query_loop(emb):
    """The batch probe job must answer each query exactly like the
    per-query ann_lsh_topk at the same (planes, seed, probes)."""
    from pyspark.sql import functions as F

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = ann.ann_lsh_topk_batch(emb, qs, k=3, n_planes=4, n_probe=3)
    got = sorted(map(tuple, batch.collect()))
    expect = []
    for r in qs.collect():
        qvec = [float(v) for v in r["query_vec"]]
        for row in ann.ann_lsh_topk(emb, qvec, k=3, n_planes=4, n_probe=3).collect():
            expect.append((r["query_id"], row["vec_id"], row["cos_sim"], row["rank"]))
    assert got == sorted(expect) and len(got) > 0


def test_multiprobe_dedup_is_superset_of_single_bucket(emb):
    """Margin-gated multiprobe blocking may only ADD pairs (the
    vector's own bucket is always emitted); every pair still clears
    the exact-cosine threshold."""
    single = dedup.embedding_cosine_duplicates(
        emb, dim=64, threshold=0.3, n_planes=8, seed=42
    )
    multi = dedup.embedding_cosine_duplicates_multiprobe(
        emb, dim=64, threshold=0.3, n_planes=8, seed=42, probe_margin=0.2
    )
    s = {(r["vec_a"], r["vec_b"]) for r in single.collect()}
    rows = multi.collect()
    m = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert s <= m
    assert len(m) > len(s)  # the extra probes must recover missed pairs
    assert all(r["cos_sim"] >= 0.3 for r in rows)


def test_cross_corpus_supports_custom_id_column(spark):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams

    bench = spark.createDataFrame(
        [(0, "shared benchmark sentence that will be contaminated exactly")],
        "page_id long, text string",
    )
    train = spark.createDataFrame(
        [(100, "shared benchmark sentence that will be contaminated exactly"),
         (101, "a totally unrelated piece of training text about gardening")],
        "page_id long, text string",
    )
    got = dedup.cross_corpus_duplicates(
        train, bench, MinHashParams(), threshold=0.5, id_col="page_id"
    )
    assert got.columns == ["page_id", "ref_id", "score"]
    rows = got.collect()
    assert {(r["page_id"], r["ref_id"]) for r in rows} == {(100, 0)}


def test_ivf_batch_matches_per_query_loop(emb):
    """ivf_topk_batch must answer each query exactly like the
    per-query ivf_topk at the same quantizer and probe count."""
    from pyspark.sql import functions as F

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = ann.ivf_topk_batch(emb, qs, k=3, n_cells=8, n_probe=3)
    got = sorted(map(tuple, batch.collect()))
    expect = []
    for r in qs.collect():
        qvec = [float(v) for v in r["query_vec"]]
        for row in ann.ivf_topk(emb, qvec, k=3, n_cells=8, n_probe=3).collect():
            expect.append((r["query_id"], row["vec_id"], row["dist"], row["rank"]))
    assert got == sorted(expect) and len(got) > 0


def test_ivf_probe_cells_alpha_rule():
    """Hand-checked distance-ratio probe set: centers at distance
    1, 1.05, 1.3, 2 -> alpha=0.1 probes the first two; cap applies
    nearest-first; alpha=0 probes exactly the nearest."""
    q = [0.0, 0.0]
    cents = [[1.0, 0.0], [0.0, 1.05], [1.3, 0.0], [0.0, 2.0]]
    assert ann.ivf_probe_cells_alpha(q, cents, 0.1) == [0, 1]
    assert ann.ivf_probe_cells_alpha(q, cents, 0.0) == [0]
    assert ann.ivf_probe_cells_alpha(q, cents, 5.0) == [0, 1, 2, 3]
    assert ann.ivf_probe_cells_alpha(q, cents, 5.0, max_probe=2) == [0, 1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        ann.ivf_probe_cells_alpha(q, cents, -0.5)


def test_ivf_alpha_for_recall_calibration():
    """Calibration returns the smallest realized-ratio alpha hitting
    the target, and its estimate is the exact in-sample recall."""
    cents = [[1.0, 0.0], [0.0, 1.05], [1.3, 0.0], [0.0, 2.0]]
    # one query at origin; truth neighbors live in cells 0, 1, 2
    queries = [(7, [0.0, 0.0])]
    truth = {7: {100, 101, 102}}
    cell_of = {100: 0, 101: 1, 102: 2}
    # ratios: 1.0, 1.05, 1.3 -> alphas 0, 0.05, 0.3
    a, rec = ann.ivf_alpha_for_recall(queries, truth, cell_of, cents, 0.5)
    assert abs(a - 0.05) < 1e-12 and abs(rec - 2 / 3) < 1e-12
    a, rec = ann.ivf_alpha_for_recall(queries, truth, cell_of, cents, 0.9)
    assert abs(a - 0.3) < 1e-9 and rec == 1.0
    # unreachable target degrades to the largest candidate, honestly
    a, rec = ann.ivf_alpha_for_recall(queries, truth, {100: 0}, cents, 1.0)
    assert rec == 1.0  # only one truth id known, found at alpha 0


def test_ivf_topk_alpha_full_scan_parity_and_batch(emb):
    """alpha large enough to cover every cell == exact scan (ivf_topk
    probing all cells); batch-alpha answers match the per-query op."""
    from pyspark.sql import functions as F

    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    full = ann.ivf_topk(emb, qvec, k=4, n_cells=8, n_probe=8)
    viaalpha = ann.ivf_topk_alpha(emb, qvec, k=4, alpha=100.0, n_cells=8)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, viaalpha.collect())
    )
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = ann.ivf_topk_batch(emb, qs, k=3, n_cells=8, alpha=0.15)
    got = sorted(map(tuple, batch.collect()))
    expect = []
    for r in qs.collect():
        qv = [float(v) for v in r["query_vec"]]
        for row in ann.ivf_topk_alpha(emb, qv, k=3, alpha=0.15, n_cells=8).collect():
            expect.append((r["query_id"], row["vec_id"], row["dist"], row["rank"]))
    assert got == sorted(expect) and len(got) > 0


def test_ngram_novelty_hand_values(spark):
    """First-occurrence novelty on a hand corpus: doc 0 all-novel,
    doc 1 restates doc 0's grams (zero novelty), doc 2 half-novel,
    short docs (< n tokens) absent."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "a b c"),       # both 2-grams first seen in doc 0
            (2, "c d x y"),     # (c d) seen; (d x), (x y) novel
            (3, "z"),           # < n tokens: no grams, no row
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r for r in dedup.ngram_novelty(docs, n=2).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["n_grams"], rows[0]["novel_grams"]) == (3, 3)
    assert rows[0]["novel_frac"] == 1.0
    assert (rows[1]["n_grams"], rows[1]["novel_grams"]) == (2, 0)
    assert rows[1]["novel_frac"] == 0.0
    assert (rows[2]["n_grams"], rows[2]["novel_grams"]) == (3, 2)
    assert rows[2]["novel_frac"] == round(2 / 3, 6)
