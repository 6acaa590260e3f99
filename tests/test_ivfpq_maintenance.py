"""IVF-PQ store lifecycle: delete, compaction, crash-window recovery
and validation — the cell-store twin of
``tests/test_index_maintenance.py``."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    append_ivfpq_index,
    compact_ivfpq_index,
    delete_from_ivfpq_index,
    load_table,
    read_ivfpq_index,
    recover_ivfpq_swap,
    write_ivfpq_index,
)

DIM, M, CODES = 64, 8, 16


def _emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def _quant(seed_c=43, seed_b=44, n_cells=8):
    return (
        ann.random_centroids(DIM, n_cells, seed=seed_c),
        ann.random_codebooks(DIM, M, CODES, seed=seed_b),
    )


def _store(spark, tmp_path, tag):
    emb = _emb(spark)
    cents, books = _quant()
    p = str(tmp_path / f"ivfpq_{tag}")
    write_ivfpq_index(emb, p, cents, books)
    return emb, cents, books, p


def _rows(spark, p):
    codes, _, _ = read_ivfpq_index(spark, p)
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in codes.collect()
    )


def test_delete_from_ivfpq_index(spark, tmp_path):
    emb, cents, books, p = _store(spark, tmp_path, "del")
    before = _rows(spark, p)
    gone = [1, 5, 9]
    delete_from_ivfpq_index(spark, gone, p)
    after = _rows(spark, p)
    assert after == [r for r in before if r[0] not in gone]
    # layout + sidecar survive: probes still prune and self-configure
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=8)
    assert all(r["vec_id"] not in gone for r in got.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # re-running the same delete converges (idempotent)
    delete_from_ivfpq_index(spark, gone, p)
    assert _rows(spark, p) == after
    # no leftovers
    assert not os.path.exists(p + "__compact_tmp")
    assert not os.path.exists(p + "__compact_old")


def test_delete_from_ivfpq_rejects_non_ivfpq_store(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        _write_store_meta,
    )

    bad = str(tmp_path / "not_ivfpq")
    _emb(spark).limit(1).write.parquet(bad)
    _write_store_meta(bad, {"kind": "pq"})
    with pytest.raises(ValueError, match="is not one of"):
        delete_from_ivfpq_index(spark, [1], bad)


def test_compact_ivfpq_appends_preserves_answers(spark, tmp_path):
    """Append-heavy store: compaction rewrites the same rows,
    preserving probe answers and the cell layout."""
    emb = _emb(spark)
    cents, books = _quant()
    p = str(tmp_path / "ivfpq_app")
    write_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), p, cents, books)
    append_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), p, cents, books)
    before = _rows(spark, p)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    want = sorted(
        map(tuple, ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=3).collect())
    )
    compact_ivfpq_index(spark, p)
    assert _rows(spark, p) == before
    got = ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=3)
    assert sorted(map(tuple, got.collect())) == want
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_recover_ivfpq_swap_windows(spark, tmp_path):
    emb, cents, books, p = _store(spark, tmp_path, "rec")
    before = _rows(spark, p)
    # healthy store, stale leftover -> cleared
    os.makedirs(p + "__compact_tmp")
    assert recover_ivfpq_swap(p) is True
    assert not os.path.exists(p + "__compact_tmp")
    assert recover_ivfpq_swap(p) is False
    # death between rename-aside and rename-in with a COMPLETE tmp:
    # the rewritten copy must win
    compact_ivfpq_index(spark, p)
    os.rename(p, p + "__compact_tmp")  # complete rewrite acting as tmp
    assert recover_ivfpq_swap(p) is True
    assert _rows(spark, p) == before
    # death mid-tmp-write (incomplete tmp, no sidecar): original wins
    os.rename(p, p + "__compact_old")
    os.makedirs(p + "__compact_tmp")
    with open(os.path.join(p + "__compact_tmp", "part-0.parquet"), "wb") as fh:
        fh.write(b"partial")
    assert recover_ivfpq_swap(p) is True
    assert _rows(spark, p) == before
    assert not os.path.exists(p + "__compact_tmp")
    # nothing survives -> raise
    shutil.rmtree(p)
    with pytest.raises(ValueError, match="no surviving copy"):
        recover_ivfpq_swap(p)


def test_validate_ivfpq_store(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        validate_ivfpq_store,
    )

    emb, cents, books, p = _store(spark, tmp_path, "val")
    validate_ivfpq_store(spark, p)  # healthy store passes
    # duplicate vec_ids (the broken-append invariant)
    codes, _, _ = read_ivfpq_index(spark, p)
    codes.limit(3).write.mode("append").partitionBy("cell").parquet(p)
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        validate_ivfpq_store(spark, p)
    # out-of-range cell
    p2 = str(tmp_path / "ivfpq_badcell")
    write_ivfpq_index(emb, p2, cents, books)
    spark.createDataFrame(
        [(999999, 97, [0] * len(books))], "vec_id long, cell int, codes array<int>"
    ).write.mode("append").partitionBy("cell").parquet(p2)
    with pytest.raises(ValueError, match="outside the sidecar"):
        validate_ivfpq_store(spark, p2)
    # incompatible codes (wrong m)
    p3 = str(tmp_path / "ivfpq_badcodes")
    write_ivfpq_index(emb, p3, cents, books)
    spark.createDataFrame(
        [(999998, 0, [0, 1])], "vec_id long, cell int, codes array<int>"
    ).write.mode("append").partitionBy("cell").parquet(p3)
    with pytest.raises(ValueError, match="incompatible with the sidecar"):
        validate_ivfpq_store(spark, p3)
