"""Index lifecycle hardening: crash-safe compaction and delete swaps,
their recovery, cross-table consistency validation, and the
shard-partitioned serving layout kept through every rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

PARAMS = MinHashParams()


@pytest.fixture(scope="module")
def corpus(spark):
    docs = T.load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    sigs = minhash.signatures(docs, PARAMS).cache()
    sigs.count()
    return docs, sigs


def _probe(spark, sigs, bands_table, qdoc=13, k=10):
    qdf = sigs.filter(F.col("doc_id") == qdoc).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    return sorted(
        map(
            tuple,
            lsh.lsh_topk(
                sigs, spark.table(bands_table), qdf, PARAMS, k=k, n_queries=1
            ).collect(),
        )
    )


def test_compact_swap_failure_restores_table(spark, corpus, monkeypatch):
    """A failure on the rename-in step must leave the ORIGINAL table
    servable under its original name (the old DROP-then-RENAME order
    left no table at all)."""
    _docs, sigs = corpus
    table = "t_swapfail_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_bucketed(lsh.bands_table(sigs, PARAMS), table, num_buckets=4)
        before = _probe(spark, sigs, table)
        n_before = spark.table(table).count()

        real_sql = spark.sql

        def failing_sql(stmt, *a, **kw):
            if stmt.startswith(f"ALTER TABLE {table}__compact_tmp RENAME TO"):
                raise RuntimeError("injected failure between the two renames")
            return real_sql(stmt, *a, **kw)

        monkeypatch.setattr(spark, "sql", failing_sql)
        with pytest.raises(RuntimeError, match="injected failure"):
            T.compact_index(spark, table)
        monkeypatch.undo()

        # the original name must still resolve to the full index
        assert spark.catalog.tableExists(table)
        assert spark.table(table).count() == n_before
        assert _probe(spark, sigs, table) == before
    finally:
        for t in (table, f"{table}__compact_tmp", f"{table}__compact_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_recover_compact_swap_after_process_death(spark, corpus):
    """If the process dies between the two renames, recovery must
    re-register the surviving copy under the original name (preferring
    the completed compacted copy)."""
    _docs, sigs = corpus
    table = "t_recover_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_bucketed(lsh.bands_table(sigs, PARAMS), table, num_buckets=4)
        assert T.recover_compact_swap(spark, table) is False  # healthy: no-op
        before = _probe(spark, sigs, table)

        # reproduce the mid-swap state: compacted copy under __compact_tmp,
        # original renamed aside, nothing under the serving name
        spark.table(table).write.mode("overwrite").bucketBy(
            4, "band_id", "band_hash"
        ).sortBy("band_id", "band_hash").format("parquet").saveAsTable(
            f"{table}__compact_tmp"
        )
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}__compact_old")
        assert not spark.catalog.tableExists(table)

        assert T.recover_compact_swap(spark, table) is True
        assert _probe(spark, sigs, table) == before
    finally:
        for t in (table, f"{table}__compact_tmp", f"{table}__compact_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_validate_index_detects_partial_append(spark, corpus, tmp_path):
    _docs, sigs = corpus
    table = "t_validate_idx"
    sigs_p = str(tmp_path / "sigs")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        half = sigs.filter(F.col("doc_id") % 2 == 0)
        half.write.mode("overwrite").parquet(sigs_p)
        T.write_bands_bucketed(lsh.bands_table(half, PARAMS), table, num_buckets=4)
        T.validate_index(spark, sigs_p, table)  # consistent: no raise

        # bands-without-sigs (the bands-first crash window): loud
        orphan = lsh.bands_table(
            sigs.filter(F.col("doc_id") % 2 == 1).limit(1), PARAMS
        )
        orphan.write.mode("append").format("parquet").bucketBy(
            4, "band_id", "band_hash"
        ).sortBy("band_id", "band_hash").saveAsTable(table)
        with pytest.raises(ValueError, match="no\nsignature|no signature"):
            T.validate_index(spark, sigs_p, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_serving_export_raises_on_orphan_band_ids(spark, corpus):
    """Bands-without-sigs (the append crash window) must fail LOUDLY at
    serving export, not silently map to another document's row."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import (
        ServingIndex,
    )

    _docs, sigs = corpus
    half = sigs.filter(F.col("doc_id") % 2 == 0)
    bands = lsh.bands_table(sigs, PARAMS)  # bands over ALL docs
    with pytest.raises(ValueError, match="no signature row"):
        ServingIndex.from_dataframes(half, bands, PARAMS)


def test_compact_preserves_shard_partitioned_layout(spark, corpus):
    """Compacting a SHARD-partitioned serving index must keep the
    partition layout (replica export pruning depends on it) and the
    table's contents."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import (
        ServingIndex,
    )

    _docs, sigs = corpus
    table = "t_shard_compact_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_sharded(lsh.bands_table(sigs, PARAMS), table, 2, num_buckets=4)
        n_before = spark.table(table).count()
        before = _probe(spark, sigs, table)
        T.compact_index(spark, table)
        assert spark.table(table).count() == n_before
        part_cols = [
            c.name for c in spark.catalog.listColumns(table) if c.isPartition
        ]
        assert part_cols == ["shard"]
        shards = sorted(
            r["shard"] for r in spark.table(table).select("shard").distinct().collect()
        )
        assert shards == [0, 1]
        assert _probe(spark, sigs, table) == before
    finally:
        for t in (table, f"{table}__compact_tmp", f"{table}__compact_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_delete_from_index_removes_ids_from_both_halves(spark, corpus, tmp_path):
    """Deleted doc_ids disappear from probes AND from the signature
    store; the bucket layout and everything else survives."""
    _docs, sigs = corpus
    table = "t_delete_idx"
    sigs_path = str(tmp_path / "sigs_del")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_bucketed(lsh.bands_table(sigs, PARAMS), table, num_buckets=4)
        sigs.write.parquet(sigs_path)
        victims = [13, 14, 15]
        assert any(r[1] == 13 for r in _probe(spark, sigs, table, qdoc=13))

        T.delete_from_index(spark, victims, sigs_path, table)

        left_sigs = spark.read.parquet(sigs_path)
        assert left_sigs.filter(F.col("doc_id").isin(victims)).count() == 0
        band_ids = {r["doc_id"] for r in spark.table(table).select("doc_id").distinct().collect()}
        assert not band_ids & set(victims)
        # probing with a surviving query no longer surfaces the victims
        res = _probe(spark, left_sigs, table, qdoc=20)
        assert res and not {r[1] for r in res} & set(victims)
        # layout preserved: appends still accept the bucketed spec
        T.validate_index(spark, sigs_path, table)
        # a DataFrame of ids works too, and re-running converges (no-op)
        T.delete_from_index(
            spark,
            spark.createDataFrame([(13,)], "doc_id bigint"),
            sigs_path,
            table,
        )
        T.validate_index(spark, sigs_path, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_delete_preserves_batch_partitioned_layout(spark, corpus, tmp_path):
    """On a partitioned index layout (the ``shard`` partitioning of a
    serving export, which later batches append into), deletion keeps
    the partition column on both halves so appends keep working
    afterwards."""
    docs, sigs = corpus
    table = "t_delete_part_idx"
    sigs_path = str(tmp_path / "sigs_del_part")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_sharded(lsh.bands_table(sigs, PARAMS), table, 2, num_buckets=4)
        T.write_sigs_sharded(sigs, sigs_path, 2)
        T.delete_from_index(spark, [13, 5], sigs_path, table)
        left = spark.read.parquet(sigs_path)
        assert "shard" in left.columns
        assert left.filter(F.col("doc_id").isin([13, 5])).count() == 0
        assert spark.table(table).filter(F.col("doc_id").isin([13, 5])).count() == 0
        # appends after the delete still restate the layout
        new = docs.filter(F.col("doc_id") == 7).select(
            (F.col("doc_id") + 20_000).alias("doc_id"), "text"
        )
        new_sigs = minhash.signatures(new, PARAMS)
        lsh.bands_table(new_sigs, PARAMS).withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(2)).cast("int")
        ).select(*spark.table(table).columns).write.mode("append").insertInto(table)
        new_sigs.withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(2)).cast("int")
        ).write.mode("append").partitionBy("shard").parquet(sigs_path)
        T.validate_index(spark, sigs_path, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_recover_sigs_swap_after_process_death(spark, corpus, tmp_path):
    """Both death windows of the signature-directory swap heal: tmp
    complete + live missing -> tmp renamed in; only old left -> old
    renamed back; healthy store -> no-op."""
    import os

    _docs, sigs = corpus
    sigs_path = str(tmp_path / "sigs_recover")
    sigs.write.parquet(sigs_path)
    n = spark.read.parquet(sigs_path).count()
    assert T.recover_sigs_swap(sigs_path) is False  # healthy

    # death after rename-aside, before rename-in (tmp complete)
    tmp = sigs_path + "__delete_tmp"
    old = sigs_path + "__delete_old"
    sigs.filter(F.col("doc_id") != 13).write.parquet(tmp)
    os.rename(sigs_path, old)
    assert T.recover_sigs_swap(sigs_path) is True
    assert spark.read.parquet(sigs_path).count() == n - 1

    # death before the tmp write finished (only old survives).
    # recovery leaves the set-aside copy in place (the next delete
    # clears it) — drop it before simulating the second death.
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(sigs_path, old)
    assert T.recover_sigs_swap(sigs_path) is True
    assert spark.read.parquet(sigs_path).count() == n - 1


def test_recover_compact_swap_stale_old_partitions_never_alias_live(
    spark, corpus
):
    """The ADVICE-flagged booby trap: a death between the rename-aside
    and _sync_partitions(old) leaves __compact_old's per-partition
    catalog locations pointing at the ORIGINAL table path — exactly
    where recovery renames the compacted copy. Recovery must re-sync
    (then drop) the set-aside copy so no later DROP can reach through
    stale locations and delete the live table's partition directories.
    """
    docs, sigs = corpus
    table = "t_recover_stale_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_sharded(lsh.bands_table(sigs, PARAMS), table, 2, num_buckets=4)
        n_before = spark.table(table).count()
        before = _probe(spark, sigs, table)

        # compacted copy complete under __compact_tmp (same layout)
        spark.table(table).write.mode("overwrite").partitionBy(
            "shard"
        ).bucketBy(4, "band_id", "band_hash").sortBy(
            "band_id", "band_hash"
        ).format("parquet").saveAsTable(f"{table}__compact_tmp")
        # death IMMEDIATELY after the rename-aside: old's partition
        # locations still point at the original (soon-to-be-live) path
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}__compact_old")

        assert T.recover_compact_swap(spark, table) is True
        # recovery completed the whole swap: old is gone, live is whole
        assert not spark.catalog.tableExists(f"{table}__compact_old")
        assert not spark.catalog.tableExists(f"{table}__compact_tmp")
        assert spark.table(table).count() == n_before
        assert _probe(spark, sigs, table) == before

        # the next maintenance cycle's defensive drops must be harmless
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_old")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_tmp")
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == n_before

        # and a full follow-up compaction still works end-to-end
        T.compact_index(spark, table)
        assert spark.table(table).count() == n_before
        assert _probe(spark, sigs, table) == before
    finally:
        for t in (table, f"{table}__compact_tmp", f"{table}__compact_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_recover_compact_swap_drops_lingering_old_when_healthy(spark, corpus):
    """Death between the tmp rename-in and the final DROP: the live
    table is healthy but a superseded __compact_old lingers. Recovery
    must finish the job (sync + drop the leftover) without touching
    live data."""
    _docs, sigs = corpus
    table = "t_recover_linger_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        T.write_bands_sharded(lsh.bands_table(sigs, PARAMS), table, 2, num_buckets=4)
        n_before = spark.table(table).count()
        # a synced set-aside copy, as the normal flow leaves it
        spark.table(table).write.mode("overwrite").partitionBy(
            "shard"
        ).bucketBy(4, "band_id", "band_hash").sortBy(
            "band_id", "band_hash"
        ).format("parquet").saveAsTable(f"{table}__compact_old")

        assert T.recover_compact_swap(spark, table) is True
        assert not spark.catalog.tableExists(f"{table}__compact_old")
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == n_before
        # idempotent: second run is a no-op
        assert T.recover_compact_swap(spark, table) is False
    finally:
        for t in (table, f"{table}__compact_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
