"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve_dense --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke            # every workload, tiny inputs

The program runs in its own process (perfbench/serve.py); this process
is the load generator and the judge of the outputs. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> {value, unit}). With ``--trace 0`` the metrics are
the end-to-end ones, measured with no tracing; with ``--trace 1`` they
are the per-layer ones, from spans around the program's public calls
and Spark's event log. The line before it holds the run's context
(host, versions, config, check details). A failed output check makes
the run exit 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

K = 5
SERVE = {
    "k": K, "shards": 2, "setups": 3, "check_sample": 50,
    # --seconds runs at the fixed rate; a traced run then adds this
    # share of it in a closed loop for the saturation throughput
    "saturation_share": 0.3, "slices": 5, "warmup_s": 1.0,
}
WORKLOADS = {
    # the reference's BASELINE configuration: every query collides with
    # ~all docs, so index scoring dominates the online path
    "serve_dense": {**SERVE, "corpus": "dense", "n_docs": 20_000,
                    "n_queries": 1000, "rate": 25, "probe_queries": 3,
                    "offline": False},
    # near-duplicate families (~8 candidates per query, so transport,
    # JSON and the router dominate the online path) plus one planted
    # cluster that skews the dedup self-join each set-up runs
    "sparse_dedup": {**SERVE, "corpus": "near_dup", "family": 8,
                     "n_docs": 8000, "cluster": 500, "n_queries": 2000,
                     "rate": 50, "probe_queries": 500, "hot_queries": 25,
                     "threshold": 0.5, "offline": True},
}
SMOKE = {
    "serve_dense": {"n_docs": 2000, "n_queries": 100, "rate": 20, "setups": 2,
                    "check_sample": 10, "warmup_s": 0.2},
    "sparse_dedup": {"n_docs": 1600, "cluster": 100, "n_queries": 100,
                     "rate": 20, "probe_queries": 50, "hot_queries": 10,
                     "setups": 2, "check_sample": 10,
                     "warmup_s": 0.2},
}
SMOKE_SECONDS = 2

# Router latency is not among these: on a shared host it drifts with the
# host's speed past any bound a metric may have (README); every run's
# context line and the traced run's trace.* metrics report it.
END_TO_END = {
    "setup_s": "s",
    "recall_at_k": "ratio",
    "rss_mb": "MB",
}
PER_LAYER = {
    "serving.query_self_ms_p50": "ms",
    "serving.candidates_per_query": "count",
    "serving.topk_per_candidate": "ratio",
    "serving.merge_topk_ms_p50": "ms",
    "serving.export_s": "s",
    "serving_hash.band_hashes_ms_p50": "ms",
    "serving_http.handle_query_self_ms_p50": "ms",
    "serving_http.replica_hop_ms_p50": "ms",
    "serving_http.fanout_ms_p50": "ms",
    "serving_http.slowest_replica_share": "ratio",
    "serving_http.router_requests": "count",
    "serving_http.router_errors": "count",
    "serving_http.replica_requests": "count",
    "client.lateness_ms_p95": "ms",
    "client.queue_wait_ms_p50": "ms",
    "client.saturation_qps": "1/s",
    "spark.session_s": "s",
    "minhash.sign_s": "s",
    "minhash.task_s": "s",
    "minhash.gc_s": "s",
    "lsh.bands_s": "s",
    "lsh.bands_shuffle_write_bytes": "bytes",
    "lsh.candidate_pairs": "count",
    "lsh.pairs_out": "count",
    "lsh.dedup_useful_ratio": "ratio",
    "lsh.dedup_s": "s",
    "lsh.dedup_shuffle_read_bytes": "bytes",
    "lsh.dedup_spill_bytes": "bytes",
    "lsh.dedup_max_over_median_task": "ratio",
    "lsh.topk_s": "s",
    "lsh.topk_jobs": "count",
    "lsh.topk_floor_share": "ratio",
    # the traced run's own end-to-end readings: the difference to the
    # untraced run is the tracing overhead
    "trace.setup_s": "s",
    "trace.query_p50_ms": "ms",
    "trace.query_p95_ms": "ms",
}


class ServerProcess:
    """The program's process (perfbench/serve.py), always stopped and
    waited for on exit, failure included."""

    def __init__(self, cfg: dict, seed: int, work: str, trace: int):
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "serve.py"),
             "--config", json.dumps(cfg), "--seed", str(seed),
             "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=common.ROOT,
        )
        self.messages: dict = {}
        self._arrived = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            tag, _, body = line.partition(" ")
            if tag in ("READY", "DONE"):
                with self._arrived:
                    self.messages[tag] = json.loads(body)
                    self._arrived.notify_all()
        with self._arrived:
            self.messages["EOF"] = True
            self._arrived.notify_all()

    def wait_for(self, tag: str, timeout: float) -> dict:
        with self._arrived:
            self._arrived.wait_for(
                lambda: tag in self.messages or "EOF" in self.messages, timeout
            )
        if tag not in self.messages:
            raise RuntimeError(f"server process sent no {tag} (see server.log)")
        return self.messages[tag]

    def stop(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        return self.wait_for("DONE", 120)

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._reader.join(timeout=10)
        self.log.close()


def run_workload(cfg: dict, seed: int, seconds: float, work: str, trace: int):
    """Returns (end-to-end metrics, context, per-layer metrics)."""
    import load

    tracer = None
    if trace:
        import spans

        tracer = spans.Tracer()
    server = ServerProcess(cfg, seed, work, trace)
    try:
        ready = server.wait_for("READY", 170)
        with open(ready["query_file"]) as fh:
            qf = json.load(fh)
        client = load.Client(ready["router"], qf["vectors"], cfg["k"], tracer)
        # the query file's objects leave the collector's view, so its
        # passes during the load stay short
        gc.collect()
        gc.freeze()
        failures, attempted, failed = list(ready["failures"]), 0, 0

        # the router's answers must equal one full ServingIndex's
        recalls, mismatched = [], 0
        for i, (want, exact) in enumerate(zip(qf["expected"], qf["exact"])):
            status, data, _s, _e = client.post(i)
            attempted += 1
            if status != 200:
                failed += 1
                continue
            got = [[c["id"], c["score"]] for c in json.loads(data)["candidates"]]
            mismatched += got != want
            exact_ids = {d for d, _s in exact}
            recalls.append(len({d for d, _s in got} & exact_ids) / len(exact_ids))
        if mismatched:
            failures.append(f"router != full ServingIndex on {mismatched} queries")

        # the fixed rate sits far below capacity, so a slower host adds
        # service time but no queue; the tail is a median over slices, so
        # one host stall moves one slice, not the run
        workers = common.nproc()
        sent = len(load.open_loop(client, cfg["rate"], cfg["warmup_s"], workers))
        attempted += sent
        fixed, windows, tails = [], [], []
        cpu_before = common.cpu_s(server.proc.pid)
        for _ in range(cfg["slices"]):
            part = load.open_loop(client, cfg["rate"], seconds / cfg["slices"],
                                  workers, first=sent)
            sent += len(part)
            fixed += part
            windows.append((part[0][0], max(r[2] for r in part)))
            tails.append(common.percentile(
                [(end - due) * 1e3 for (due, _s, end, st) in part if st == 200], 95))
        server_cpu_s = common.cpu_s(server.proc.pid) - cpu_before
        # capacity (closed loop) only in the traced run, after the timed
        # phase, so the untraced figures never follow a saturated server
        sat, rates = [], []
        if trace:
            for _ in range(cfg["slices"]):
                part, elapsed = load.closed_loop(
                    client, workers, seconds * cfg["saturation_share"] / cfg["slices"],
                    first=sent)
                sent += len(part)
                sat += part
                rates.append(sum(1 for r in part if r[-1] == 200) / elapsed)
        for phase in (fixed, sat):
            attempted += len(phase)
            failed += sum(1 for r in phase if r[-1] != 200)
        done = server.stop()
    finally:
        server.close()

    setups = ready["setups"]
    lat = [(end - due) * 1e3 for (due, _send, end, status) in fixed if status == 200]
    e2e = {
        "setup_s": common.median([s["setup_s"] for s in setups]),
        "query_p50_ms": common.percentile(lat, 50),
        "query_p95_ms": common.median(tails),
        "recall_at_k": sum(recalls) / max(1, len(recalls)),
        "rss_mb": ready["rss_mb"],
    }
    context = {
        "attempted": attempted, "failed": failed, "failures": failures,
        "samples_fixed_rate": len(lat), "samples_saturation": len(sat),
        "query_p50_ms": e2e["query_p50_ms"],
        "query_p95_ms": e2e["query_p95_ms"], "query_p95_ms_slices": tails,
        "query_p95_ms_pooled": common.percentile(lat, 95),
        "server_cpu_ms_per_query": server_cpu_s * 1e3 / max(1, len(fixed)),
        "saturation_qps": common.median(rates) if rates else None,
        "checked_router": len(qf["expected"]), "n_docs": ready["n_docs"],
        "setups": setups, "offline": ready["offline"],
        "dedup_sampled": ready["dedup_sampled"], "ready_s": ready["ready_s"],
        "marks": ready["marks"],
    }
    layers = {}
    if trace:
        layers = serving_layers(cfg, ready, tracer, work, fixed, windows)
        layers.update(spark_layers(done.get("spark", {}), setups, ready["offline"]))
        layers["spark.session_s"] = ready["session_s"]
        layers["client.saturation_qps"] = context["saturation_qps"]
    return e2e, context, layers


def serving_layers(cfg, ready, tracer, work, fixed, windows) -> dict:
    """Online-path layers from the client's and the server's spans.
    Times come from the fixed-rate phase only; counts from the run."""
    import spans

    all_spans = tracer.spans + spans.load(os.path.join(work, "server_spans.json"))
    tracer.dump(os.path.join(work, "client_spans.json"))
    kids = spans.children(all_spans)
    by_name: dict = {}
    for s in all_spans:
        by_name.setdefault(s[2], []).append(s)

    def in_window(name):
        return [
            s for s in by_name.get(name, [])
            if any(start <= s[3] <= end for start, end in windows)
        ]

    def p50_duration(name):
        return common.median([spans.duration_ms(s) for s in in_window(name)])

    def p50_self(name):
        return common.median([spans.self_ms(s, kids) for s in in_window(name)])

    hops = []
    for post in in_window("serving_http.replica_post"):
        handled = [c for c in kids.get(post[0], []) if c[2] == "serving_http.handle_query"]
        if handled:
            hops.append(spans.duration_ms(post) - spans.duration_ms(handled[0]))
    shares = []
    for fan in in_window("serving_http.fanout"):
        posts = [spans.duration_ms(c) for c in kids.get(fan[0], [])]
        if posts and sum(posts) > 0:
            shares.append(max(posts) / sum(posts))
    # queue wait: from the client sending a request to the router
    # starting to handle it (connection accept, read, JSON parse)
    sent = {c[0]: c[5]["send"] for c in by_name.get("client.request", [])}
    waits = [
        (s[3] - sent[s[1]]) * 1e3
        for s in in_window("serving_http.router_handle") if s[1] in sent
    ]
    router = by_name.get("serving_http.router_handle", [])
    cands = ready["candidates_per_query"]
    return {
        "serving.query_self_ms_p50": p50_self("serving.query"),
        "serving.candidates_per_query": cands,
        "serving.topk_per_candidate": cfg["k"] / cands if cands else 0.0,
        "serving.merge_topk_ms_p50": p50_duration("serving.merge_topk"),
        "serving.export_s": common.median([s["export_s"] for s in ready["setups"]]),
        "serving_hash.band_hashes_ms_p50": p50_duration("serving_hash.band_hashes"),
        "serving_http.handle_query_self_ms_p50": p50_self("serving_http.handle_query"),
        "serving_http.replica_hop_ms_p50": common.median(hops),
        "serving_http.fanout_ms_p50": p50_duration("serving_http.fanout"),
        "serving_http.slowest_replica_share": common.median(shares),
        "serving_http.router_requests": len(router),
        "serving_http.router_errors": sum(1 for s in router if s[5].get("status") != 200),
        "serving_http.replica_requests": len(by_name.get("serving_http.handle_query", [])),
        "client.lateness_ms_p95": common.percentile(
            [(send - due) * 1e3 for (due, send, _end, _st) in fixed], 95
        ),
        "client.queue_wait_ms_p50": common.median(waits),
    }


def spark_layers(groups: dict, setups: list, offline: dict) -> dict:
    """Offline-path layers: wall times per phase (median over set-ups)
    plus the event-log fold of the jobs each phase launched (per set-up)."""
    n = len(setups)
    sign = groups.get("minhash.sign", {})
    bands = groups.get("lsh.bands", {})
    out = {
        "minhash.sign_s": common.median([s["sign_s"] for s in setups]),
        "minhash.task_s": sign.get("task_s", 0) / n,
        "minhash.gc_s": sign.get("gc_s", 0) / n,
        "lsh.bands_s": common.median([s["bands_s"] for s in setups]),
        "lsh.bands_shuffle_write_bytes": bands.get("shuffle_write_bytes", 0) / n,
    }
    if offline:
        dedup = groups.get("lsh.dedup", {})
        topk = groups.get("lsh.topk", {})
        candidates = offline["candidate_pairs"]
        topk_s = [s["topk_s"] for s in setups]
        out.update({
            "lsh.candidate_pairs": candidates,
            "lsh.pairs_out": offline["pairs_out"],
            "lsh.dedup_useful_ratio": offline["pairs_out"] / max(1, candidates),
            "lsh.dedup_s": common.median([s["dedup_s"] for s in setups]),
            "lsh.dedup_shuffle_read_bytes": dedup.get("shuffle_read_bytes", 0) / n,
            "lsh.dedup_spill_bytes": dedup.get("spill_bytes", 0) / n,
            "lsh.dedup_max_over_median_task": dedup.get("max_over_median_task", 0),
            "lsh.topk_s": common.median(topk_s),
            "lsh.topk_jobs": topk.get("jobs", 0) / n,
            # share of the probe's wall time in which no task ran
            "lsh.topk_floor_share": 1 - topk.get("busy_s", 0) / sum(topk_s),
        })
    return out


def run_one(name: str, seed: int, seconds: float, trace: int, smoke: bool) -> int:
    cfg = dict(WORKLOADS[name])
    if smoke:
        cfg.update(SMOKE[name])
    work = common.work_dir(name)
    calibration = [common.calibration_ms()]
    try:
        e2e, context, layers = run_workload(cfg, seed, seconds, work, trace)
    finally:
        if not trace:
            shutil.rmtree(work, ignore_errors=True)
    calibration.append(common.calibration_ms())
    context["calibration_ms"] = calibration
    if trace:
        for m in ("setup_s", "query_p50_ms", "query_p95_ms"):
            layers[f"trace.{m}"] = e2e[m]
        metrics = {m: {"value": float(layers.get(m, 0.0)), "unit": u}
                   for m, u in PER_LAYER.items()}
        context["work_dir"] = work
    else:
        metrics = {m: {"value": float(e2e[m]), "unit": u}
                   for m, u in END_TO_END.items()}
    correct = not context["failures"] and context["failed"] == 0
    print(json.dumps({
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "host": common.host_info(), "config": cfg, **context,
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": int(context["attempted"]),
        "failed": int(context["failed"]),
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and short phases; all workloads unless --workload")
    args = ap.parse_args(argv)
    # fail fast, before any work, when the program is not beside us
    sys.path.insert(0, common.ROOT)
    import finding_similar_high_dimensional_items_for_big_data_sets_spark  # noqa: F401

    if args.smoke:
        names = [args.workload] if args.workload else list(WORKLOADS)
        return max(run_one(n, args.seed, SMOKE_SECONDS, args.trace, True) for n in names)
    if not args.workload:
        ap.error("--workload is required (or --smoke)")
    return run_one(args.workload, args.seed, args.seconds, args.trace, False)


if __name__ == "__main__":
    sys.exit(main())
