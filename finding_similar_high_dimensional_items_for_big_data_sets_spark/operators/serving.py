"""Online serving tier: low-latency point queries from an exported
LSH index (SURVEY §3.1-3.2).

The reference splits its lifecycle in two: an offline index build
(shards -> per-worker in-memory banding tables, reference
``app/src/worker_tasks.py:84-117``) and an online request path that
probes those in-memory tables per query (reference
``app/src/minhash_lsh.py:70-116``), with its published 6.1 ms/query
measured against the PREBUILT index (``BASELINE.md``).

The Spark engine's batch path answers the same query as one job —
right for throughput, but a distributed job launch costs ~1s of
scheduling latency however small the data. This module is the missing
online half, Spark-first in its division of labor:

- **Spark builds the artifact**: ``sigs``/``bands`` DataFrames (the
  engine's persistent tables) are exported once — the analog of the
  reference workers stacking their shards into a local matrix. At
  cluster scale each serving replica would load one bucketed shard of
  the bands table (partition pruning on ``band_hash`` gives shard
  routing for free); here a single process holds all of it, exactly
  like the reference's single-node benchmark config.
- **Serving probes in-process**: band lookup -> candidate union ->
  vectorized estimated-Jaccard -> top-k, no job launch. Semantics are
  identical to :func:`operators.lsh.lsh_topk` with the engine's
  deterministic redefinitions (SURVEY §4.4): no order-dependent caps,
  ties broken by (score desc, doc_id asc) — asserted equal in
  ``tests/test_serving.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh


def _lsh_fingerprint(spark, sigs_path: str, bands_table: str) -> list:
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        store_fingerprint,
        table_fingerprint,
    )

    return [
        store_fingerprint(sigs_path),
        table_fingerprint(spark, bands_table),
    ]


@dataclass
class ServingIndex:
    """In-process LSH probe structure exported from the engine's
    sigs/bands tables."""

    params: MinHashParams
    doc_ids: np.ndarray  # (N,) int64, sorted ascending
    sigs: np.ndarray  # (N, num_perm) int64, row i <-> doc_ids[i]
    buckets: list[dict[int, np.ndarray]]  # per band: band_hash -> row idxs
    # loader provenance + artifact fingerprints, recorded by from_paths /
    # from_sharded so is_stale()/reload() can tell when the persisted
    # index was swapped underneath this in-process snapshot (compaction,
    # delete_from_index). None when built from
    # DataFrames (no persisted identity to compare against).
    source: dict | None = None

    @classmethod
    def from_dataframes(
        cls, sigs_df: DataFrame, bands_df: DataFrame, params: MinHashParams
    ) -> "ServingIndex":
        """One-time export (the offline half; excluded from query
        latency like the reference's startup build) through
        :func:`lsh.export_index`, under its rules: the same in-memory
        index the dedup band kernel broadcasts, with each band's
        buckets grouped by :func:`lsh.band_buckets`. At 100 TB you'd
        load one bucketed bands shard per replica instead of the whole
        table."""
        index = lsh.export_index(sigs_df, bands_df, params.bands)
        buckets = []
        for band in range(params.bands):
            rows, keys, starts, sizes = lsh.band_buckets(index.hashes, index.present, band)
            bounds = zip(keys[starts].tolist(), starts.tolist(), (starts + sizes).tolist())
            buckets.append({key: rows[s:e] for key, s, e in bounds})
        return cls(params=params, doc_ids=index.ids, sigs=index.sigs, buckets=buckets)

    @classmethod
    def from_paths(
        cls,
        spark,
        sigs_path: str,
        bands_table: str,
        params: MinHashParams,
    ) -> "ServingIndex":
        """Load a replica straight from the PERSISTED index artifacts
        (the parquet signature table + the bucketed bands table that
        :func:`sources.tables.append_to_index` maintains) — build,
        persist, append, serve, without re-deriving anything."""
        # fingerprint BEFORE the export reads anything: a swap landing
        # mid-load then compares unequal (stale) instead of stamping
        # the pre-swap snapshot with the post-swap identity forever
        fp = _lsh_fingerprint(spark, sigs_path, bands_table)
        idx = cls.from_dataframes(
            spark.read.parquet(sigs_path), spark.table(bands_table), params
        )
        idx.source = {
            "loader": "from_paths",
            "sigs_path": sigs_path,
            "bands_table": bands_table,
            "fingerprint": fp,
        }
        return idx

    @classmethod
    def from_sharded(
        cls,
        spark,
        sigs_path: str,
        bands_table: str,
        params: MinHashParams,
        shard: int,
    ) -> "ServingIndex":
        """Export ONE replica's shard straight from the persisted
        SHARD-PARTITIONED artifacts
        (:func:`sources.tables.write_bands_sharded` /
        ``write_sigs_sharded``): the ``shard = <i>`` filter hits the
        partition column on both sides, so the export scan reads only
        this shard's directories — no replica ever touches another
        replica's files (asserted against PartitionFilters/inputFiles
        in tests). N replicas behind :func:`merge_topk` answer
        identically to one full index — the reference's scatter-gather
        (``app/src/query_service.py:167-192``) with the shard routing
        moved into the storage layout."""
        from pyspark.sql import functions as F

        fp = _lsh_fingerprint(spark, sigs_path, bands_table)  # pre-load
        sigs = (
            spark.read.parquet(sigs_path)
            .filter(F.col("shard") == shard)
            .select("doc_id", "sig")
        )
        bands = spark.table(bands_table).filter(F.col("shard") == shard)
        idx = cls.from_dataframes(sigs, bands, params)
        idx.source = {
            "loader": "from_sharded",
            "sigs_path": sigs_path,
            "bands_table": bands_table,
            "shard": shard,
            "fingerprint": fp,
        }
        return idx

    def is_stale(self, spark) -> bool:
        """True iff the persisted artifacts this snapshot was exported
        from have been SWAPPED since (compaction, delete_from_index):
        an in-process index keeps answering
        with a forgotten doc_id until reloaded, so the serving loop
        should poll this (O(2 stat calls), no data read) and
        :meth:`reload` when it fires. Raises when the index was built
        from DataFrames — there is no persisted identity to compare."""
        if self.source is None:
            raise ValueError(
                "index was built from DataFrames (from_dataframes) — no "
                "persisted artifacts to check; load via from_paths/"
                "from_sharded for staleness tracking"
            )
        return (
            _lsh_fingerprint(
                spark, self.source["sigs_path"], self.source["bands_table"]
            )
            != self.source["fingerprint"]
        )

    def reload(self, spark) -> "ServingIndex":
        """Fresh snapshot from the SAME persisted artifacts (and shard,
        for a sharded replica) this one was loaded from. Returns a new
        index — swap it into the serving service atomically
        (``service.index = service.index.reload(spark)``); in-flight
        queries finish against the old snapshot."""
        if self.source is None:
            raise ValueError(
                "index was built from DataFrames (from_dataframes) — "
                "re-export it from its source DataFrames instead"
            )
        if self.source["loader"] == "from_sharded":
            return type(self).from_sharded(
                spark,
                self.source["sigs_path"],
                self.source["bands_table"],
                self.params,
                self.source["shard"],
            )
        return type(self).from_paths(
            spark,
            self.source["sigs_path"],
            self.source["bands_table"],
            self.params,
        )

    def query(self, vector, k: int = 10) -> list[tuple[int, float, int]]:
        """Point query: [(doc_id, score, rank)] by (score desc, doc_id
        asc) — the same contract as ``lsh.lsh_topk`` for one query.

        The band keys of the query are derived from the same hash
        family via a driver-side recompute (no Spark job): the caller
        passes the raw 128-long signature vector, band hashes are
        computed with the engine's band-key scheme.
        """
        q = np.asarray(vector, dtype=np.int64)
        if q.shape[0] != self.params.num_perm:
            raise ValueError(
                f"query width {q.shape[0]} != num_perm {self.params.num_perm}"
            )
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_hash import (
            band_hashes_local,
        )

        hashes = band_hashes_local(q, self.params)
        hit_rows = [
            self.buckets[b].get(h)
            for b, h in enumerate(hashes)
            if h in self.buckets[b]
        ]
        if not hit_rows:
            return []
        # membership-mask union: O(N + hits), cheaper than sort-based
        # unique on dup-heavy corpora, and row order == doc_id order so
        # the deterministic candidate cap (SURVEY §4.4 delta 2: keep
        # the smallest doc_ids, reference max_candidates=2000) is a
        # prefix slice.
        mask = np.zeros(self.doc_ids.shape[0], dtype=bool)
        for rows in hit_rows:
            mask[rows] = True
        cand = np.flatnonzero(mask)
        if self.params.max_candidates is not None:
            cand = cand[: self.params.max_candidates]
        n = self.doc_ids.shape[0]
        if cand.shape[0] * 2 > n:
            # dense probe (collision-heavy corpus): a fancy-index gather
            # copies |cand| x num_perm int64 (~20 MB at 20k docs) before
            # comparing; scanning all rows sequentially and selecting
            # counts afterwards is cheaper past ~half density.
            counts = (self.sigs == q).sum(axis=1)[cand]
        else:
            counts = (self.sigs[cand] == q).sum(axis=1)
        # top-k via one O(n) partition on a composite integer key that
        # encodes the (score desc, doc_id asc) contract exactly:
        # match-count majorizes, lower row index (== lower doc_id, ids
        # sorted) breaks ties. Replaces a full two-key lexsort.
        key = counts * np.int64(n + 1) - cand
        if key.shape[0] > k:
            sel = np.argpartition(-key, k - 1)[:k]
        else:
            sel = np.arange(key.shape[0])
        sel = sel[np.argsort(-key[sel], kind="stable")]
        inv = 1.0 / self.params.num_perm
        return [
            (int(self.doc_ids[cand[i]]), float(counts[i]) * inv, rank + 1)
            for rank, i in enumerate(sel)
        ]


def shard_dataframes(
    sigs_df: DataFrame, bands_df: DataFrame, n_shards: int, shard: int
):
    """Doc-range shard of the index tables for one serving replica —
    the reference's round-robin shard claim
    (``app/src/worker_tasks.py:47-56``) re-expressed as a pushdown
    filter on the stable key. Each replica exports only its slice; a
    bucketed/partitioned bands table prunes the scan to that slice."""
    from pyspark.sql import functions as F

    pred = F.pmod(F.col("doc_id"), F.lit(n_shards)) == shard
    return sigs_df.filter(pred), bands_df.filter(pred)


def merge_topk(
    replica_results: list[list[tuple[int, float, int]]], k: int
) -> list[tuple[int, float, int]]:
    """Global top-k merge of per-replica answers (reference
    ``app/src/query_service.py:186-192``): concatenate, re-sort by
    (score desc, doc_id asc), truncate, re-rank. Deterministic per
    SURVEY §4.4 delta 3."""
    flat = [(d, s) for res in replica_results for (d, s, _r) in res]
    flat.sort(key=lambda t: (-t[1], t[0]))
    return [(d, s, i + 1) for i, (d, s) in enumerate(flat[:k])]
