"""The JVM pow(x,2)==x*x identity guard behind the seqfold Arrow
kernels (ann._assert_pow_square_identity)."""

from __future__ import annotations

import os
import subprocess
import sys

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann

# Two sessions in a row in one fresh process, the first stopped and
# dropped before the second starts. Prints how many sessions the guard
# checked.
_RESTART = """
import gc
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
from finding_similar_high_dimensional_items_for_big_data_sets_spark.session import get_spark
for _ in range(2):
    spark = get_spark("seqfold-guard-restart", master="local[1]", shuffle_partitions=1)
    ann._assert_pow_square_identity(spark)
    spark.stop()
    del spark
    gc.collect()
print(len(ann._SEQFOLD_GUARD_OK))
"""


def test_pow_square_identity_holds_and_caches(spark):
    ann._assert_pow_square_identity(spark)  # must not raise on this JVM
    key = (spark.sparkContext.applicationId, spark.sparkContext.startTime)
    assert ann._SEQFOLD_GUARD_OK.get(key) is True
    # cached second call is job-free: drop the flag guard would need
    ann._assert_pow_square_identity(spark)


def test_pow_square_guard_conf_off(spark):
    try:
        spark.conf.set("spark.spark_graft.seqfold_guard", "off")
        saved = dict(ann._SEQFOLD_GUARD_OK)
        ann._SEQFOLD_GUARD_OK.clear()
        ann._assert_pow_square_identity(spark)  # skipped: no memo entry
        assert not ann._SEQFOLD_GUARD_OK
        ann._SEQFOLD_GUARD_OK.update(saved)
    finally:
        spark.conf.unset("spark.spark_graft.seqfold_guard")


def test_pow_square_guard_reruns_after_session_restart():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", _RESTART],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    )
    assert out.stdout.split()[-1] == "2"
