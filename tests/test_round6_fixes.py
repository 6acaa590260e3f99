"""Round-6 hardening: HLL parameter validation, distinct k-means
reseeds, and the degenerate-query (d1 == 0) alpha-probe/calibration
convention."""

from __future__ import annotations

import numpy as np
import pytest

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import hll
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann

P = 6


def _items(spark, rows):
    return spark.createDataFrame([(k,) for k in rows], "key string")


# ---------- HLL p validation ----------


def test_hll_rejects_out_of_range_p(spark):
    df = _items(spark, ["a", "b"])
    for bad in (0, 5, 10):
        with pytest.raises(ValueError, match=r"p must be in \[6, 9\]"):
            hll.hll_registers(df, "key", p=bad)
    regs = hll.hll_registers(df, "key", p=P)
    with pytest.raises(ValueError, match=r"p must be in \[6, 9\]"):
        hll.hll_estimate(regs, p=5)
    # valid bounds still work
    assert hll.hll_estimate(hll.hll_registers(df, "key", p=9), p=9).count() == 1


# ---------- k-means reseed distinctness ----------


def test_kmeans_node_concurrent_empty_reseeds_are_distinct():
    """All-identical init centers empty k-1 clusters simultaneously;
    each must reseed to a DISTINCT farthest row, not one shared argmax."""
    X = np.array([[0.0], [0.0], [0.0], [0.0], [100.0], [200.0]])
    # find a seed whose init picks 3 of the four 0-rows
    seed = next(
        s
        for s in range(200)
        if all(
            i < 4
            for i in np.random.RandomState(s).choice(6, size=3, replace=False)
        )
    )
    cents, assign = ann._kmeans_node(
        X, 3, np.random.RandomState(seed), n_iters=1
    )
    # after one iteration the reseeds took the two farthest rows (200,
    # 100) as distinct centers — the old code put 200.0 in both
    vals = sorted(float(c[0]) for c in cents)
    assert len(set(vals)) == 3
    assert vals[1:] == [100.0, 200.0]


# ---------- degenerate-query alpha convention ----------


def test_alpha_probe_and_calibration_agree_on_centroid_query():
    """Query exactly on a centroid (d1 == 0): the probe rule scans only
    the distance-0 cell at ANY alpha, and calibration must describe
    exactly that — estimated recall == realized recall of the probe."""
    cents = [[0.0, 0.0], [10.0, 10.0]]
    queries = [(1, [0.0, 0.0])]
    truth = {1: {5, 6}}
    cell_of = {5: 0, 6: 1}
    a, rec = ann.ivf_alpha_for_recall(queries, truth, cell_of, cents, 0.5)
    assert rec == pytest.approx(0.5)
    probed = ann.ivf_probe_cells_alpha([0.0, 0.0], cents, a)
    captured = sum(1 for v in truth[1] if cell_of[v] in probed) / len(truth[1])
    assert captured == pytest.approx(rec)
    # huge alpha still cannot reach the far cell for this query — the
    # documented convention, consistent across probe and calibration
    assert ann.ivf_probe_cells_alpha([0.0, 0.0], cents, 1e9) == [0]
