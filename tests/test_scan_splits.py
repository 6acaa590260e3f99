"""``load_table``'s spread decision: round-robin only inputs that scan
in fewer splits than the session has cores, whatever the file layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    _scan_splits_estimate,
    load_table,
)


def _spreads(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


def test_single_row_group_fixture_still_spreads(spark, sf_dir):
    assert _spreads(load_table(spark, sf_dir, "documents"))


def test_hive_partitioned_table_is_not_spread(spark, sf_dir, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.withColumn("part", F.col("doc_id") % cores)
        .repartition(cores, "part")
        .write.partitionBy("part")
        .parquet(str(tmp_path / "documents.parquet"))
    )
    files = list((tmp_path / "documents.parquet").glob("part=*/*.parquet"))
    assert len(files) >= cores
    # every file sits one level down, under a part=... directory
    assert _scan_splits_estimate(spark, str(tmp_path / "documents.parquet"), cores) == cores
    df = load_table(spark, str(tmp_path), "documents")
    assert not _spreads(df)
    assert df.count() == docs.count()


def test_no_data_files_estimates_zero(spark, tmp_path):
    (tmp_path / "empty" / "part=0").mkdir(parents=True)
    (tmp_path / "empty" / "_SUCCESS").write_text("")
    assert _scan_splits_estimate(spark, str(tmp_path / "empty"), 4) == 0
