"""The program's process for a benchmark run.

Started by ``run.py`` as its own process; the load generator stays in
``run.py``. This process:

1. builds the corpus index with the program's Spark path, runs the
   offline read path on the near-duplicate corpus
   (``lsh.self_join_pairs`` dedup and an unbounded ``lsh.lsh_topk``
   probe), exports one ``ServingIndex`` per doc-shard replica, and
   starts the replica servers and the scatter-gather router. Set-up is
   repeated ``setups`` times from scratch in one Spark session (the
   first is cold); the servers of the last one stay up;
2. computes the answers the router must reproduce (one full
   ``ServingIndex``; the merge must be exact), an exact scan for
   recall, and checks ``ServingIndex`` against ``lsh.lsh_topk`` and the
   dedup pairs against a numpy re-score;
3. stops Spark, reports ``READY`` on stdout (tagged lines, see
   ``common.emit``), serves until ``stop`` arrives on stdin, then
   reports ``DONE`` with the Spark phase metrics of a traced run.

    python3 perfbench/serve.py --config JSON --seed 1 --work DIR [--trace 1]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def build_index(spark, docs, probe, params, cfg, span):
    """One from-scratch set-up: sign, band, (on the near-duplicate
    corpus) the offline dedup and probe pass, export one index per
    shard, listen. Returns (servers, router, sigs, bands, phase times,
    offline pass results or None)."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
        lsh,
        minhash,
        serving,
        serving_http,
    )

    times = {}
    with span("minhash.sign"), common.job_group(spark, "minhash.sign"), \
            common.Stopwatch() as sw:
        sigs = minhash.signatures(docs, params).cache()
        sigs.count()
    times["sign_s"] = sw.seconds
    with span("lsh.bands"), common.job_group(spark, "lsh.bands"), \
            common.Stopwatch() as sw:
        bands = lsh.bands_table(sigs, params).cache()
        bands.count()
    times["bands_s"] = sw.seconds
    offline = None
    if cfg["offline"]:
        offline = offline_pass(spark, sigs, bands, probe, params, cfg, span)
        times["dedup_s"] = offline.pop("dedup_s")
        times["topk_s"] = offline.pop("topk_s")
    with span("serving.export"), common.job_group(spark, "serving.export"), \
            common.Stopwatch() as sw:
        shards = [
            serving.ServingIndex.from_dataframes(
                *serving.shard_dataframes(sigs, bands, cfg["shards"], i), params
            )
            for i in range(cfg["shards"])
        ]
    times["export_s"] = sw.seconds
    servers = [serving_http.start_server(idx)[0] for idx in shards]
    urls = [f"http://127.0.0.1:{s.server_address[1]}" for s in servers]
    router = serving_http.start_router_server("lsh", urls)[0]
    return servers, router, sigs, bands, times, offline


def shutdown(servers) -> None:
    for server in servers:
        server.shutdown()
        server.server_close()


def topk_answers(rows) -> dict:
    """lsh_topk rows -> {query_id: [(doc_id, score)] in rank order}."""
    ranked: dict = {}
    for r in rows:
        ranked.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: [(d, s) for (_r, d, s) in sorted(v)] for q, v in ranked.items()}


def offline_pass(spark, sigs, bands, probe, params, cfg, span) -> dict:
    """Dedup (``self_join_pairs`` reduced to a pair count, an
    order-free pair hash and a deterministic 0.5% sample), then an
    unbounded ``lsh_topk`` probe, collected."""
    from pyspark.sql import functions as F

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
        lsh,
    )

    with span("lsh.dedup"), common.job_group(spark, "lsh.dedup"), \
            common.Stopwatch() as dedup:
        pairs = lsh.self_join_pairs(bands, sigs, params, cfg["threshold"])
        sampled = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(1000)) < 5
        row = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_a", "doc_b", "score")).alias("h"),
            F.collect_list(
                F.when(sampled, F.struct("doc_a", "doc_b", "score"))
            ).alias("sample"),
        ).collect()[0]
    with span("lsh.topk"), common.job_group(spark, "lsh.topk"), \
            common.Stopwatch() as topk:
        rows = lsh.lsh_topk(
            sigs, bands, probe, params, k=cfg["k"], broadcast_query=False
        ).collect()
    return {
        "dedup_s": dedup.seconds,
        "topk_s": topk.seconds,
        "pairs_out": row["n"],
        "pairs_hash": f"{row['h'] & (2**64 - 1):016x}",
        "sample": [(p["doc_a"], p["doc_b"], p["score"]) for p in row["sample"]],
        "answers": topk_answers(rows),
    }


def repeat_failures(passes: list[dict]) -> list[str]:
    """Every set-up's offline pass must give the same pairs and answers."""
    failures = []
    if len({(p["pairs_out"], p["pairs_hash"]) for p in passes}) != 1:
        failures.append("dedup pair count/hash differs between set-ups")
    if any(p["answers"] != passes[0]["answers"] for p in passes):
        failures.append("lsh_topk answers differ between set-ups")
    if passes[0]["pairs_out"] == 0:
        failures.append("dedup found no pairs")
    return failures


def check_dedup_sample(full, sample, threshold) -> list[str]:
    """Every sampled pair re-scores, with numpy, to its reported score
    and at or above the threshold."""
    import numpy as np

    if not sample:
        return ["dedup sample is empty"]
    row_of = {int(d): i for i, d in enumerate(full.doc_ids)}
    bad = 0
    for a, b, score in sample:
        sa, sb = full.sigs[row_of[a]], full.sigs[row_of[b]]
        rescored = float(np.sum(sa == sb)) / full.params.num_perm
        bad += rescored != score or rescored < threshold
    if bad:
        return [f"{bad} of {len(sample)} sampled dedup pairs fail the numpy re-score"]
    return []


def main(argv=None) -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True, help="workload config as JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    cfg = json.loads(args.config)
    seed, k = args.seed, cfg["k"]

    common.configure_spark_env(args.work, event_log=bool(args.trace))
    from pyspark.sql import functions as F

    import corpus
    from finding_similar_high_dimensional_items_for_big_data_sets_spark import (
        MinHashParams,
    )
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
        lsh,
        minhash,
        serving,
    )

    tracer = None
    span = lambda name: nullcontext()  # noqa: E731
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.instrument_serving(tracer)
        span = tracer.span

    with common.Stopwatch() as sw:
        spark = common.start_spark("perfbench")
    report = {"session_s": sw.seconds, "failures": [], "marks": {}}

    def mark(tag):
        """Seconds since process start at each step up to READY."""
        report["marks"][tag] = round(time.monotonic() - started, 2)

    mark("session")
    servers = []
    try:
        params = MinHashParams()
        n_q = cfg["n_queries"]
        if cfg["corpus"] == "dense":
            docs = corpus.dense_corpus(spark, cfg["n_docs"], seed)
            queries = corpus.dense_queries(spark, n_q, seed)
            in_probe = F.col("query_id") < cfg["probe_queries"]
        else:
            n_bases = cfg["n_docs"] // cfg["family"]
            n_family = n_bases * cfg["family"]
            docs = corpus.family_corpus(spark, n_bases, cfg["family"], seed).unionByName(
                corpus.planted_cluster(spark, cfg["cluster"], n_family, seed)
            )
            # the probe set adds queries that hit the planted cluster
            queries = corpus.family_queries(spark, n_q, n_bases, seed).unionByName(
                corpus.cluster_queries(spark, cfg["hot_queries"], n_q, seed)
            )
            in_probe = (F.col("query_id") < cfg["probe_queries"]) | (
                F.col("query_id") >= n_q
            )

        with common.job_group(spark, "queries.sign"):
            qsigs = minhash.signatures(queries, params, id_col="query_id").cache()
            rows = qsigs.orderBy("query_id").collect()
        vectors = [list(map(int, r["sig"])) for r in rows if r["query_id"] < n_q]
        probe = qsigs.filter(in_probe)
        probe_vectors = {
            int(r["query_id"]): r["sig"]
            for r in rows
            if r["query_id"] < cfg["probe_queries"] or r["query_id"] >= n_q
        }

        mark("queries")
        setups, passes = [], []
        sigs = bands = None
        for _ in range(cfg["setups"]):
            if servers:
                shutdown(servers)
                sigs.unpersist(blocking=True)
                bands.unpersist(blocking=True)
            with span("setup"), common.Stopwatch() as sw:
                replicas, router, sigs, bands, times, offline = build_index(
                    spark, docs, probe, params, cfg, span
                )
            times["setup_s"] = sw.seconds
            servers = replicas + [router]
            setups.append(times)
            if offline is not None:
                passes.append(offline)
        report["setups"] = setups
        mark("setups")
        report["rss_mb"] = common.rss_mb()

        if passes:
            report["failures"] += repeat_failures(passes)
            answers, sample = passes[0]["answers"], passes[0]["sample"]
            report["offline"] = {
                "pairs_out": passes[0]["pairs_out"],
                "pairs_hash": passes[0]["pairs_hash"],
            }
            if args.trace:
                with common.job_group(spark, "lsh.candidate_pairs"):
                    report["offline"]["candidate_pairs"] = lsh.band_pair_candidates(
                        bands, lsh.min_matching_bands(cfg["threshold"], params)
                    ).count()
        else:
            with common.job_group(spark, "checks"):
                answers = topk_answers(
                    lsh.lsh_topk(sigs, bands, probe, params, k=k,
                                 n_queries=len(probe_vectors)).collect()
                )
            sample, report["offline"] = [], {}

        # what the router must reproduce, computed without it
        with common.job_group(spark, "checks"):
            full = serving.ServingIndex.from_dataframes(sigs, bands, params)
        report["n_docs"] = int(full.doc_ids.size)
        mismatched = sum(
            answers.get(q, []) != [(d, s) for (d, s, _r) in full.query(v, k)]
            for q, v in probe_vectors.items()
        )
        if mismatched:
            report["failures"].append(
                f"ServingIndex != lsh_topk on {mismatched} of {len(probe_vectors)} queries"
            )
        if passes:
            report["failures"] += check_dedup_sample(full, sample, cfg["threshold"])
        report["dedup_sampled"] = len(sample)
        checked = range(min(cfg["check_sample"], len(vectors)))
        expected = [[[d, s] for (d, s, _r) in full.query(vectors[i], k)] for i in checked]
        exact = [common.exact_topk(full, vectors[i], k) for i in checked]
        cands = [common.candidate_count(full, vectors[i]) for i in checked]
        report["candidates_per_query"] = sum(cands) / len(cands)
        del full
        query_file = os.path.join(args.work, "queries.json")
        with open(query_file, "w") as fh:
            json.dump({"vectors": vectors, "expected": expected, "exact": exact}, fh)

        # serving needs no Spark: stop the JVM so it takes no CPU or
        # memory while the load runs
        mark("checks")
        common.stop_spark(spark)
        spark = None
        mark("spark_stopped")
        gc.collect()
        # set-up's objects leave the collector's view, so its passes
        # while serving scan only what serving allocates
        gc.freeze()
        report["ready_s"] = time.monotonic() - started
        common.emit("READY", {
            "router": f"http://127.0.0.1:{router.server_address[1]}",
            "query_file": query_file,
            **report,
        })
        sys.stdin.readline()  # "stop" (or EOF when the parent died)
        shutdown(servers)
        servers = []
        if tracer is not None:
            tracer.dump(os.path.join(args.work, "server_spans.json"))
    finally:
        shutdown(servers)
        if spark is not None:
            common.stop_spark(spark)
    done = {}
    if args.trace:
        import sparkmetrics

        done["spark"] = sparkmetrics.fold(os.path.join(args.work, "events"))
    common.emit("DONE", done)
    return 0


if __name__ == "__main__":
    sys.exit(main())
