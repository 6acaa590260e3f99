"""Online serving tier for the EMBEDDING index: ms-scale IVF-PQ point
queries from a persisted :func:`..sources.tables.write_ivfpq_index`
store, without launching a Spark job — the vector twin of
:class:`.serving.ServingIndex` (which covers MinHash/LSH).

Division of labor (same as the LSH serving tier): **Spark builds the
artifact** (cell-partitioned codes + quantizer sidecar, maintained by
append/delete/compact and the streaming semantic loop), **serving
probes it in-process**: coarse-cell ranking -> residual ADC over the
probed cells' code slices -> top-k, all numpy. At cluster scale each
replica would load the codes of its cell subset (the store is already
partitioned by cell, so replica routing is directory selection); here
one process holds the full codes table, exactly like the reference's
single-node serving config.

Answer contract: IDENTICAL to :func:`..operators.ann.ivfpq_topk_store`
(asserted in ``tests/test_serving_vector.py``):

- probe set: same fold + tie rules as ``ivfpq_topk`` (scalar pow fold
  for flat centroids, numpy leaf scan for HKM trees, calibrated-alpha
  rule supported on both);
- ADC: the SAME residual LUT floats (``_ivfpq_residual_luts``),
  accumulated in subspace order, so scores are bit-identical to the
  Spark expression chain; sqrt is IEEE-exact in both runtimes;
- rounding/order: results sorted by (round(dist, 6) asc, vec_id asc).
  Spark's ``round`` is HALF_UP over the double's shortest decimal
  representation; python's ``repr`` produces the same shortest form,
  so ``Decimal(repr(x))`` + HALF_UP reproduces it exactly. Exact
  decimal rounding is only paid for the top-k CONTENDER set (raw
  distances within 1e-6 of the k-th — rounding moves a value by at
  most 5e-7, so nothing outside that margin can cross the boundary);
  the bulk ordering runs on raw floats.

Optional exact rerank: pass ``embeddings`` at export to retain the raw
vectors; ``query(shortlist=...)`` then reranks the ADC shortlist with
exact L2 (the recall-1.0 serving answer). Bulk rerank ordering uses a
numpy multiply fold; the contender set is re-scored with the scalar
pow fold to match Spark's ``l2_distance`` bit-for-bit before rounding.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.ann import (
    HKMQuantizer,
    _ivfpq_residual_luts,
    ivf_probe_cells_alpha,
)

_Q6 = Decimal("0.000001")
# rounding moves a value by <= 5e-7; 1e-6 (+ float slack) bounds how far
# below a raw distance another candidate's ROUNDED distance can reach
_ROUND_MARGIN = 1e-6 + 1e-9


def _round6(x: float) -> float:
    """Spark ``F.round(x, 6)`` for doubles: HALF_UP over the shortest
    decimal representation (python ``repr`` == Java ``Double.toString``
    shortest form)."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def _topk_rounded(ids: np.ndarray, raw: np.ndarray, k: int):
    """Top-k under the (round(dist,6) asc, vec_id asc) contract without
    exact-rounding every candidate: order by raw, take the contender
    set within the rounding margin of the k-th raw value, exact-round
    only those, final sort on (rounded, id). Returns (ids, rounded)
    arrays of length <= k."""
    order = np.lexsort((ids, raw))
    if k < order.shape[0]:
        kth = raw[order[k - 1]]
        order = order[raw[order] <= kth + _ROUND_MARGIN]
    rounded = np.array([_round6(v) for v in raw[order]], dtype=np.float64)
    final = np.lexsort((ids[order], rounded))[:k]
    return ids[order][final], rounded[final]


@dataclass
class ServingVectorIndex:
    """In-process IVF-PQ probe structure exported from a persisted
    codes store (cells, codes, and both quantizers all come from the
    store, so LUTs always match the codes — the same self-configuring
    guarantee as ``ivfpq_topk_store``)."""

    centroids: list  # flat cell/leaf centers (python floats: fold parity)
    codebooks: list  # [m][n_codes][dsub] python floats
    tree: HKMQuantizer | None
    cells: np.ndarray  # (N,) int64, sorted ascending
    vec_ids: np.ndarray  # (N,) int64, grouped by cell
    codes: np.ndarray  # (N, m) int64, row-aligned with vec_ids
    vectors: np.ndarray | None = None  # (N, dim) float64, for exact rerank
    _leaf_arr: np.ndarray | None = None  # (C, dim) float64 centroid matrix
    # IVF-OPQ stores only: rotation COLUMNS from the sidecar. The query
    # is rotated in-process with the same fold as the Spark path
    # (opq.rotate_py); probe + ADC then run in the rotated space while
    # exact rerank stays in the ORIGINAL space against the retained
    # vectors (orthonormal R preserves L2).
    rotation: list | None = None
    # loader provenance + store fingerprint (from_store only): lets
    # is_stale()/reload() detect a store swapped underneath this
    # snapshot by compaction / delete.
    source: dict | None = None

    @classmethod
    def from_store(
        cls,
        spark,
        path: str,
        embeddings: DataFrame | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cells: list[int] | None = None,
    ) -> "ServingVectorIndex":
        """One-time export (offline half, excluded from query latency):
        codes through Arrow into numpy, grouped by cell for sliced ADC.
        Pass ``embeddings`` to retain raw vectors for exact rerank.

        ``cells``: replica sharding — load ONLY these cells' codes (the
        store is partitioned by cell, so the export scan prunes to this
        replica's directories). Every replica still knows the GLOBAL
        quantizer from the sidecar, so all replicas derive the same
        probe set for a query and each answers from the probed cells it
        owns; :func:`merge_topk_dist` over N replicas covering all
        cells answers identically to one full index (same scatter-
        gather as ``serving.ServingIndex.from_sharded`` / `merge_topk`,
        with the shard routing in the cell layout)."""
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            read_ivfopq_index,
            read_ivfpq_index,
            read_store_meta,
        )

        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            store_fingerprint,
        )

        # keep the replica-shard argument before the local `cells`
        # numpy array shadows it (reload must re-request the same cells)
        cells_arg = None if cells is None else [int(c) for c in cells]
        # fingerprint BEFORE reading: a swap landing mid-export then
        # compares unequal (stale) instead of stamping the pre-swap
        # snapshot with the post-swap identity forever
        fp = store_fingerprint(path)
        rotation = None
        if read_store_meta(path).get("kind") in ("ivfopq", "ivfopq_hkm"):
            codes_df, rotation, cents, books = read_ivfopq_index(spark, path)
            rotation = [[float(x) for x in col] for col in rotation]
        else:
            codes_df, cents, books = read_ivfpq_index(spark, path)
        if cells is not None:
            from pyspark.sql import functions as F

            codes_df = codes_df.filter(
                F.col("cell").isin([int(c) for c in cells])
            )
        tree = cents if isinstance(cents, HKMQuantizer) else None
        if tree is not None:
            centroids = [[float(v) for v in c] for c in tree.leaf_centers()]
        else:
            centroids = [[float(v) for v in c] for c in cents]
        pdf = codes_df.select(id_col, "cell", "codes").toPandas()
        cells = pdf["cell"].to_numpy(dtype=np.int64)
        vec_ids = pdf[id_col].to_numpy(dtype=np.int64)
        code_mat = (
            np.array(pdf["codes"].tolist(), dtype=np.int64)
            if len(pdf)
            else np.zeros((0, len(books)), dtype=np.int64)
        )
        order = np.lexsort((vec_ids, cells))
        cells, vec_ids, code_mat = cells[order], vec_ids[order], code_mat[order]
        vectors = None
        if embeddings is not None:
            epdf = embeddings.select(id_col, vec_col).toPandas()
            eids = epdf[id_col].to_numpy(dtype=np.int64)
            evecs = np.array(epdf[vec_col].tolist(), dtype=np.float64)
            eorder = np.argsort(eids)
            eids, evecs = eids[eorder], evecs[eorder]
            rows = np.searchsorted(eids, vec_ids)
            bad = (rows >= eids.shape[0]) | (
                eids[np.clip(rows, 0, eids.shape[0] - 1)] != vec_ids
            )
            if bad.any():
                raise ValueError(
                    f"store vec_ids {np.unique(vec_ids[bad])[:5].tolist()} "
                    "missing from the embeddings table — rerank export "
                    "needs every indexed vector"
                )
            vectors = evecs[rows]
        return cls(
            centroids=centroids,
            codebooks=[[[float(x) for x in code] for code in book] for book in books],
            tree=tree,
            cells=cells,
            vec_ids=vec_ids,
            codes=code_mat,
            vectors=vectors,
            _leaf_arr=np.asarray(centroids, dtype=np.float64),
            rotation=rotation,
            source={
                "path": path,
                "embeddings": embeddings,
                "id_col": id_col,
                "vec_col": vec_col,
                "cells": cells_arg,
                "fingerprint": fp,
            },
        )

    @property
    def dim(self) -> int:
        return len(self.centroids[0])

    def is_stale(self, spark) -> bool:
        """True iff the codes store was SWAPPED since this export
        (compaction, delete_from_ivfpq_index) —
        the snapshot would keep answering with forgotten vec_ids until
        :meth:`reload`. O(1 stat call), no data read."""
        if self.source is None:
            raise ValueError(
                "index was not loaded from a persisted store — no "
                "artifacts to check; load via from_store for staleness "
                "tracking"
            )
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            store_fingerprint,
        )

        return store_fingerprint(self.source["path"]) != self.source[
            "fingerprint"
        ]

    def reload(self, spark) -> "ServingVectorIndex":
        """Fresh snapshot from the same store (same rerank embeddings /
        replica cells). Swap it in atomically:
        ``service.index = service.index.reload(spark)``."""
        if self.source is None:
            raise ValueError(
                "index was not loaded from a persisted store — "
                "re-export it from its source instead"
            )
        return type(self).from_store(
            spark,
            self.source["path"],
            embeddings=self.source["embeddings"],
            id_col=self.source["id_col"],
            vec_col=self.source["vec_col"],
            cells=self.source["cells"],
        )

    def _probe_set(self, qv, n_probe, alpha, max_probe) -> list[int]:
        """Same probe rules as ``ann.ivfpq_topk`` (flat: scalar pow
        fold + tie by cell index, alpha via the calibrated rule; tree:
        numpy leaf scan, alpha via the sqrt bound)."""
        if self.tree is not None:
            dq = ((self._leaf_arr - np.asarray(qv, dtype=np.float64)) ** 2).sum(
                axis=1
            )
            cdist = [float(v) for v in dq]
            order = sorted(range(len(cdist)), key=lambda c: (cdist[c], c))
            if alpha is not None:
                d = np.sqrt(dq)
                bound = (1.0 + float(alpha)) * float(d.min())
                probes = [c for c in order if d[c] <= bound]
                return probes[:max_probe] if max_probe is not None else probes
            return order[:n_probe]
        if alpha is not None:
            return ivf_probe_cells_alpha(qv, self.centroids, alpha, max_probe)
        cdist = [
            sum(((c[i] - qv[i]) ** 2 for i in range(len(qv))), 0.0)
            for c in self.centroids
        ]
        order = sorted(range(len(self.centroids)), key=lambda c: (cdist[c], c))
        return order[:n_probe]

    def _adc(self, qv, probes):
        """Residual ADC over the probed cells' code slices: the same
        LUT floats as the Spark path, accumulated in subspace order —
        bit-identical scores."""
        luts = _ivfpq_residual_luts(qv, self.centroids, self.codebooks, probes)
        m = len(self.codebooks)
        ids_parts, adc_parts = [], []
        for c in probes:
            lo = int(np.searchsorted(self.cells, c, side="left"))
            hi = int(np.searchsorted(self.cells, c, side="right"))
            if lo == hi:
                continue
            lut = np.asarray(luts[c], dtype=np.float64)  # (m, n_codes)
            sl = self.codes[lo:hi]
            acc = lut[0][sl[:, 0]]
            for s in range(1, m):
                acc = acc + lut[s][sl[:, s]]
            ids_parts.append(self.vec_ids[lo:hi])
            adc_parts.append(acc)
        if not ids_parts:
            return (
                np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.float64),
            )
        return np.concatenate(ids_parts), np.sqrt(np.concatenate(adc_parts))

    def query(
        self,
        vector,
        k: int = 10,
        n_probe: int = 4,
        shortlist: int | None = None,
        alpha: float | None = None,
        max_probe: int | None = None,
    ) -> list[tuple[int, float, int]]:
        """Point query: [(vec_id, dist, rank)] under exactly the
        ``ivfpq_topk_store`` contract — ADC top-k by default,
        shortlist-then-exact-rerank when ``shortlist`` is given (needs
        vectors retained at export)."""
        qv = [float(v) for v in vector]
        if len(qv) != self.dim:
            raise ValueError(f"query width {len(qv)} != index dim {self.dim}")
        if shortlist is not None and alpha is not None:
            raise ValueError(
                "alpha probing applies to the ADC path; rerank fixes n_probe"
            )
        # IVF-OPQ store: probe + ADC in the rotated space (the same
        # rotate_py fold as the Spark store query, so LUT floats are
        # identical); the exact rerank below stays on the ORIGINAL qv
        if self.rotation is not None:
            from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.opq import (
                rotate_py,
            )

            adc_qv = rotate_py(qv, self.rotation)
        else:
            adc_qv = qv
        probes = self._probe_set(adc_qv, n_probe, alpha, max_probe)
        ids, raw = self._adc(adc_qv, probes)
        if ids.shape[0] == 0:
            return []
        if shortlist is None:
            top_ids, top_dist = _topk_rounded(ids, raw, k)
            return [
                (int(d), float(v), r + 1)
                for r, (d, v) in enumerate(zip(top_ids, top_dist))
            ]
        if self.vectors is None:
            raise ValueError(
                "shortlist rerank needs vectors retained at export "
                "(pass embeddings to from_store)"
            )
        short_ids, _ = _topk_rounded(ids, raw, shortlist)
        rows = self._rows_for(short_ids)
        q_arr = np.asarray(qv, dtype=np.float64)
        diffs = self.vectors[rows] - q_arr
        # bulk ordering on a multiply fold; the contender set below is
        # re-scored with the scalar pow fold (Spark's l2_distance uses
        # pow(x-y,2), and pow differs from x*x in the last ulp)
        raw2 = np.sqrt((diffs * diffs).sum(axis=1))
        order = np.lexsort((short_ids, raw2))
        if k < order.shape[0]:
            kth = raw2[order[k - 1]]
            order = order[raw2[order] <= kth + 2.0 * _ROUND_MARGIN]
        exact = np.array(
            [
                _exact_l2(self.vectors[rows[i]], qv)
                for i in order
            ],
            dtype=np.float64,
        )
        rounded = np.array([_round6(v) for v in exact], dtype=np.float64)
        final = np.lexsort((short_ids[order], rounded))[:k]
        return [
            (int(short_ids[order][i]), float(rounded[i]), r + 1)
            for r, i in enumerate(final)
        ]

    def _rows_for(self, wanted_ids: np.ndarray) -> np.ndarray:
        """Row indices (into the cell-grouped arrays) of the given
        vec_ids, via one sorted-id view."""
        if not hasattr(self, "_id_order"):
            self._id_order = np.argsort(self.vec_ids)
            self._ids_sorted = self.vec_ids[self._id_order]
        pos = np.searchsorted(self._ids_sorted, wanted_ids)
        return self._id_order[pos]


def _exact_l2(v: np.ndarray, qv: list) -> float:
    """Scalar pow fold matching Spark's ``l2_distance`` (zip_with
    pow(x-y,2) + sequential aggregate) bit-for-bit."""
    import math

    return math.sqrt(
        sum(((float(v[i]) - qv[i]) ** 2 for i in range(len(qv))), 0.0)
    )


def merge_topk_dist(
    replica_results: list[list[tuple[int, float, int]]], k: int
) -> list[tuple[int, float, int]]:
    """Global top-k merge of per-replica vector answers: concatenate,
    re-sort by (dist asc, vec_id asc), truncate, re-rank — the
    distance-ordered twin of ``serving.merge_topk`` (which merges
    score-descending LSH answers). N replicas whose cell subsets cover
    the store answer identically to one full index."""
    flat = [(v, d) for res in replica_results for (v, d, _r) in res]
    flat.sort(key=lambda t: (t[1], t[0]))
    return [(v, d, i + 1) for i, (v, d) in enumerate(flat[:k])]
