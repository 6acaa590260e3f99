"""Network query endpoint: the reference's ``POST /query`` REST
surface (``app/src/query_service.py:34-46,139-196``) bound to the
engine's in-process :class:`~.serving.ServingIndex`.

The reference serves FastAPI over a Dask cluster; this environment
ships no web framework, so the binding is the stdlib
``http.server.ThreadingHTTPServer`` — deliberately thin, because all
request semantics already live in library code:

- envelope: ``{"vector": List[int], "k": int = 10}`` with the same
  validation rules as :func:`sources.query_source.validate_envelopes`
  (non-null vector of exactly ``num_perm`` integers, each within
  int64, ``k`` floored at 1, default 10);
- response: ``{"candidates": [{"id", "score", "vector_preview"}]}``
  matching ``sources.sinks.topk_response`` / reference
  ``query_service.py:196``, preview = first 10 signature values
  (reference ``worker_tasks.py:164``).

Every tier (LSH, vector, lexical, hybrid) and the router go through
one request path: one HTTP handler, one set of envelope rules (each
broken rule is a 400 with its own message), one replica starter and,
at the router, one parallel sweep.

Scale note: one process serves one exported index (or one shard via
``serving.shard_dataframes`` + ``serving.merge_topk`` at a router
tier). Queries never launch Spark jobs — Spark builds the artifact,
the endpoint probes it, same division of labor as the reference's
offline build / online probe split.
"""

from __future__ import annotations

import functools
import json
import threading
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
    retrieval,
    serving,
    serving_vector,
)

DEFAULT_K = 10
PREVIEW_N = 10


# ---------------------------------------------------------------------------
# Envelope rules, shared by every service and router endpoint.
# ---------------------------------------------------------------------------


class _Reject(ValueError):
    """A request body broke an envelope rule; the message is the 400
    reply's error text."""


def _rejects(error):
    """Endpoint decorator: ``error`` raised inside the endpoint becomes
    the 400 reply ``{"error": <message>}``. Replica services pass
    ``ValueError``, so an index's own argument check (say, a shortlist
    without retained vectors) is a 400 too; the router passes
    :class:`_Reject`, its own rules only."""

    def decorate(handle):
        @functools.wraps(handle)
        def handle_or_400(self, payload):
            try:
                return handle(self, payload)
            except error as e:
                return 400, {"error": str(e)}

        return handle_or_400

    return decorate


def _is_int(value) -> bool:
    return isinstance(value, int) and not isinstance(value, bool)


def _object(payload) -> dict:
    if not isinstance(payload, dict):
        raise _Reject("body must be a JSON object")
    return payload


def _integer(payload: dict, key: str, default, error: str) -> int:
    value = payload.get(key, default)
    if not _is_int(value):
        raise _Reject(error)
    return value


def _k(payload: dict) -> int:
    """``k``: an integer, default 10, floored at 1."""
    return max(1, _integer(payload, "k", DEFAULT_K, "k must be an integer"))


def _positive(payload: dict, key: str, default: int) -> int:
    value = payload.get(key, default)
    if not _is_int(value) or value < 1:
        raise _Reject(f"{key} must be a positive integer")
    return value


def _text(payload: dict) -> str:
    query = payload.get("query")
    if not isinstance(query, str):
        raise _Reject("query must be a string")
    return query


# vector element dtype -> (JSON types it accepts, their name in a 400)
_ELEMENTS = {np.int64: ((int,), "integers"), np.float64: ((int, float), "numbers")}


def _vector(payload: dict, width: int, width_name: str, dtype) -> np.ndarray:
    """``vector``: a list of exactly ``width`` integers (``dtype``
    int64, a MinHash signature) or numbers (float64, an embedding),
    each of which must fit ``dtype``: an element outside it is a 400,
    not an error inside the index that drops the connection."""
    vector = payload.get("vector")
    kinds, noun = _ELEMENTS[dtype]
    if not isinstance(vector, list) or any(
        not isinstance(v, kinds) or isinstance(v, bool) for v in vector
    ):
        raise _Reject(f"vector must be a list of {noun}")
    if len(vector) != width:
        raise _Reject(f"vector width {len(vector)} != {width_name} {width}")
    try:
        return np.asarray(vector, dtype=dtype)
    except OverflowError:
        raise _Reject(f"vector elements must fit in {np.dtype(dtype).name}") from None


def _candidates(hits, fields: tuple[str, ...]) -> dict:
    """The 200 reply: one candidate object per hit tuple."""
    return {"candidates": [dict(zip(fields, hit)) for hit in hits]}


# ---------------------------------------------------------------------------
# Replica services: dict in, (status, dict) out.
# ---------------------------------------------------------------------------


class QueryService:
    """Transport-free request handler: dict in, (status, dict) out.
    The HTTP layer below is a socket binding for exactly this."""

    def __init__(self, index: serving.ServingIndex, preview_n: int = PREVIEW_N):
        self.index = index
        self.preview_n = preview_n

    @_rejects(ValueError)
    def handle_query(self, payload) -> tuple[int, dict]:
        payload = _object(payload)
        vector = _vector(payload, self.index.params.num_perm, "num_perm", np.int64)
        hits = self.index.query(vector, k=_k(payload))
        return 200, {
            "candidates": [
                {
                    "id": doc_id,
                    "score": score,
                    "vector_preview": self._preview(doc_id),
                }
                for (doc_id, score, _rank) in hits
            ]
        }

    def _preview(self, doc_id: int) -> list[int]:
        row = int(np.searchsorted(self.index.doc_ids, doc_id))
        return [int(v) for v in self.index.sigs[row, : self.preview_n]]


class VectorQueryService:
    """Embedding-index twin of :class:`QueryService`: dict in,
    (status, dict) out, backed by an in-process
    :class:`~.serving_vector.ServingVectorIndex` (IVF-PQ ADC point
    queries, optional exact rerank). Envelope:
    ``{"vector": List[float], "k": int = 10, "n_probe": int = 4,
    "shortlist": int | null}``."""

    def __init__(self, index):
        self.index = index

    @_rejects(ValueError)
    def handle_query(self, payload) -> tuple[int, dict]:
        payload = _object(payload)
        vector = _vector(payload, self.index.dim, "dim", np.float64)
        k = _k(payload)
        n_probe = _positive(payload, "n_probe", 4)
        shortlist = payload.get("shortlist")
        if shortlist is not None and not _is_int(shortlist):
            raise _Reject("shortlist must be an integer or null")
        hits = self.index.query(vector, k=k, n_probe=n_probe, shortlist=shortlist)
        return 200, _candidates(hits, ("id", "dist", "rank"))


class LexicalQueryService:
    """Keyword twin of :class:`VectorQueryService`, backed by an
    in-process :class:`~.retrieval.ServingLexicalIndex`. Envelope:
    ``{"query": str, "k": int = 10}``."""

    def __init__(self, index):
        self.index = index

    @_rejects(ValueError)
    def handle_query(self, payload) -> tuple[int, dict]:
        payload = _object(payload)
        hits = self.index.query(_text(payload), k=_k(payload))
        return 200, _candidates(hits, ("id", "score", "rank"))


class HybridQueryService:
    """Hybrid point service: BM25 + vector lists fused in-process by
    the contract RRF rule (``retrieval.hybrid_rrf_point``). Envelope:
    ``{"query": str, "vector": List[float], "k": int = 10,
    "n_probe": int = 4, "c": int = 60}``.

    The lexical index is read through ``lexical`` (the
    :class:`LexicalQueryService` of the same server) on every request,
    so swapping ``lexical.index`` swaps it for both endpoints; the
    vector index is ``vec_index``."""

    def __init__(self, lexical: LexicalQueryService, vec_index):
        self.lexical = lexical
        self.vec_index = vec_index

    @_rejects(ValueError)
    def handle_query(self, payload) -> tuple[int, dict]:
        payload = _object(payload)
        query = _text(payload)
        vector = _vector(payload, self.vec_index.dim, "dim", np.float64)
        k = _k(payload)
        n_probe = _positive(payload, "n_probe", 4)
        c = _positive(payload, "c", 60)
        hits = retrieval.hybrid_rrf_point(
            self.lexical.index, self.vec_index, query, vector,
            k=k, c=c, n_probe=n_probe,
        )
        return 200, _candidates(hits, ("id", "rrf", "rank"))


# ---------------------------------------------------------------------------
# Hot swap: POST /reload and the staleness half of GET /health.
# ---------------------------------------------------------------------------


def _handle_reload(spark, holders, payload, lock) -> tuple[int, dict]:
    """Shared ``POST /reload`` law for every replica tier: for each
    served index, check staleness against its persisted artifacts and
    re-snapshot when stale (or when the body says ``{"force": true}``).
    The swap is one attribute assignment — in-flight queries finish on
    the old snapshot, the socket never drops. ``holders``: (name,
    owner, attribute) triples, the index served under ``name`` being
    ``owner.<attribute>``; an index without persisted provenance
    (built from DataFrames) is reported ``tracked: false`` and left
    alone. Requires the server to have been started with a
    SparkSession (the export runs Spark jobs).

    ``lock``: the server's per-instance reload mutex. ThreadingHTTPServer
    handles each request on its own thread, so without it two
    concurrent reloads (or a reload racing the documented manual
    ``server.service.index = ...`` swap under the same lock) would
    both pass ``is_stale`` and run duplicate Spark export jobs. The
    acquire is NON-blocking: the loser answers 409 immediately — the
    winner's swap is exactly the snapshot the loser wanted, so
    queueing a second export behind the first would only re-do its
    work (round-11 ADVICE)."""
    if spark is None:
        return 400, {
            "error": "server started without a SparkSession — pass "
            "spark= to start_* to enable /reload"
        }
    if not lock.acquire(blocking=False):
        return 409, {"error": "reload already in progress"}
    try:
        return _reload_locked(spark, holders, payload)
    finally:
        lock.release()


def _staleness(spark, holders) -> dict:
    """Per-index staleness for ``GET /health``: True/False from
    ``is_stale`` (O(stat), no data read), ``None`` when it cannot be
    known — untracked index (no persisted provenance), server started
    without a SparkSession, or a probe failure mid-swap. Health stays
    a cheap liveness endpoint: a failed staleness probe degrades to
    unknown, never to a 500 (round-11 — lets an operator see a
    pending reload from the router without probing each replica)."""
    out = {}
    for name, owner, attr in holders:
        index = getattr(owner, attr)
        if spark is None or getattr(index, "source", None) is None:
            out[name] = None
            continue
        try:
            out[name] = bool(index.is_stale(spark))
        except Exception:  # noqa: BLE001 — store mid-swap etc.: unknown
            out[name] = None
    return out


def _reload_locked(spark, holders, payload) -> tuple[int, dict]:
    force = isinstance(payload, dict) and bool(payload.get("force", False))
    report = {}
    failed = False
    for name, owner, attr in holders:
        index = getattr(owner, attr)
        # untracked is a PROPERTY (no persisted provenance), not an
        # exception: a ValueError out of is_stale on a tracked index
        # is a real staleness-probe failure and must surface below,
        # not be silently reported as untracked
        if getattr(index, "source", None) is None:
            report[name] = {"tracked": False, "reloaded": False}
            continue
        try:
            stale = index.is_stale(spark)
            reloaded = stale or force
            if reloaded:
                setattr(owner, attr, index.reload(spark))
        except Exception as e:  # noqa: BLE001 — a probe/reload failure
            # (store mid-swap, broken table, export error) must become
            # an HTTP error the operator can read and retry, never a
            # dropped connection; the old snapshot stays in place
            failed = True
            report[name] = {"tracked": True, "error": str(e)}
            continue
        report[name] = {
            "tracked": True,
            "was_stale": stale,
            "reloaded": reloaded,
        }
    return (500 if failed else 200), {"indexes": report}


# ---------------------------------------------------------------------------
# HTTP binding and the replica starters.
# ---------------------------------------------------------------------------


class _Handler(BaseHTTPRequestHandler):
    """ONE HTTP handler for every server in this module, so the body
    parsing, dispatch, reply, and logging behavior cannot diverge
    between tiers. It reads its server's ``routes`` (path -> ``payload
    -> (status, body)`` for POST) and ``health`` (``() -> (status,
    body)`` for ``GET /health``). A ``Content-Length`` that is not a
    non-negative integer is answered 400 at once: a negative one would
    otherwise read until the client gives up.

    ``timeout`` bounds every socket read (seconds, the router's
    per-replica default): a body shorter than its ``Content-Length``
    is answered 408 and the connection closed, so a slow or stalled
    client cannot hold a handler thread — the server starts one per
    connection."""

    timeout = 10.0

    def do_POST(self):  # noqa: N802 (http.server API)
        handle = self.server.routes.get(self.path.rstrip("/"))
        if handle is None:
            self._reply(404, {"error": "not found"})
            return
        try:
            length = int(self.headers.get("Content-Length", 0))
            if length < 0:
                raise ValueError(f"negative Content-Length {length}")
            payload = json.loads(self.rfile.read(length) or b"null")
        except TimeoutError:
            self.close_connection = True
            self._reply(408, {"error": "request timed out"})
            return
        except (ValueError, json.JSONDecodeError):
            self._reply(400, {"error": "invalid JSON body"})
            return
        status, body = handle(payload)
        self._reply(status, body)

    def do_GET(self):  # noqa: N802
        health = self.server.health
        if self.path.rstrip("/") == "/health" and health is not None:
            self._reply(*health())
        else:
            self._reply(404, {"error": "not found"})

    def _reply(self, status: int, body: dict) -> None:
        data = json.dumps(body).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt, *args):  # silence per-request stderr
        pass


class _Server(ThreadingHTTPServer):
    """A server that lets go of what it serves when closed: the routes
    and health closures hold the service and so its index, and a
    stopped replica must free that index at once, not whenever a full
    cyclic garbage collection next runs."""

    def __init__(self, address, routes: dict, health):
        super().__init__(address, _Handler)
        self.routes = routes
        self.health = health

    def server_close(self) -> None:
        super().server_close()
        self.routes, self.health = {}, None
        self.service = self.hybrid_service = None


def _serve(routes: dict, health, host: str, port: int):
    server = _Server((host, port), routes, health)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def _start_replica(holders: list, routes: dict, health, host, port, spark):
    """Serve one replica: ``routes`` plus ``POST /reload`` over the
    hot-swap ``holders`` (see :func:`_handle_reload`), and ``GET
    /health`` answering ``status``, the fields ``health()`` returns and
    per-index ``stale``. ``server.service`` is the first holder's
    owner.

    Hot-swap hook: after a store rewrite (compaction / delete),
    ``server.service.index = server.service.index.reload(spark)``
    re-snapshots without dropping the socket (``POST /reload`` does the
    same over the wire). Hold ``server.reload_lock`` around a manual
    swap so it cannot race a concurrent ``POST /reload``."""
    lock = threading.Lock()
    routes["/reload"] = lambda p: _handle_reload(spark, holders, p, lock)
    server, thread = _serve(
        routes,
        lambda: (
            200,
            {"status": "ok", **health(), "stale": _staleness(spark, holders)},
        ),
        host,
        port,
    )
    server.service = holders[0][1]
    server.reload_lock = lock
    return server, thread


def start_server(
    index: serving.ServingIndex, host: str = "127.0.0.1", port: int = 0, spark=None
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Bind the query service to a socket (``port=0`` = ephemeral).
    Returns (server, daemon thread); call ``server.shutdown()`` then
    ``server.server_close()`` to stop. With ``spark`` given, ``POST
    /reload`` re-snapshots a store-loaded index after a rewrite
    (compaction / delete) without dropping the socket."""
    service = QueryService(index)
    return _start_replica(
        [("lsh", service, "index")],
        {"/query": service.handle_query},
        lambda: {"n_docs": int(service.index.doc_ids.size)},
        host, port, spark,
    )


def start_vector_server(
    index, host: str = "127.0.0.1", port: int = 0, spark=None
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Bind the EMBEDDING query service to a socket: ``POST /query``
    with the vector envelope, ``GET /health`` reporting the indexed
    count, and (with ``spark``) ``POST /reload`` — the IVF-PQ twin of
    :func:`start_server`."""
    service = VectorQueryService(index)
    return _start_replica(
        [("vector", service, "index")],
        {"/query": service.handle_query},
        lambda: {"n_vecs": int(service.index.vec_ids.size)},
        host, port, spark,
    )


def start_lexical_server(
    lex_index, vec_index=None, host: str = "127.0.0.1", port: int = 0,
    spark=None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Bind the keyword (and, with ``vec_index``, the hybrid) service:
    ``POST /query`` with the keyword envelope, ``POST /hybrid`` with
    the hybrid envelope, ``GET /health``, and (with ``spark``)
    ``POST /reload`` re-snapshotting BOTH served indexes. Hot-swap
    hooks: ``server.service.index`` (the lexical index, read by both
    endpoints) and ``server.hybrid_service.vec_index``."""
    lexical = LexicalQueryService(lex_index)
    holders = [("lexical", lexical, "index")]
    routes = {"/query": lexical.handle_query}
    hybrid = None
    if vec_index is not None:
        hybrid = HybridQueryService(lexical, vec_index)
        holders.append(("vector", hybrid, "vec_index"))
        routes["/hybrid"] = hybrid.handle_query
    server, thread = _start_replica(
        holders,
        routes,
        lambda: {"n_docs": int(lexical.index.n_docs), "hybrid": hybrid is not None},
        host, port, spark,
    )
    server.hybrid_service = hybrid
    return server, thread


# ---------------------------------------------------------------------------
# Scatter-gather router: the reference's online topology
# (app/src/query_service.py:167-192 fans one query out to every worker
# and merges the partial top-k lists). Each replica server binds ONE
# shard of an index (start_server / start_vector_server /
# start_lexical_server); the router fans a request across all of them
# over HTTP and merges with the SAME in-process laws the tiers already
# prove exact (serving.merge_topk, serving_vector.merge_topk_dist,
# retrieval.merge_topk_scores) — so N replicas answer identically to
# one full index.
# ---------------------------------------------------------------------------


#: The fields of one candidate entry in each tier's ``/query`` reply:
#: ``(id, score field, third field)``. The router's merge reads these
#: and its cover check refuses a replica entry that lacks one.
_TIER_FIELDS = {
    "lsh": ("id", "score", "vector_preview"),
    "vector": ("id", "dist", "rank"),
    "lexical": ("id", "score", "rank"),
}


def _bad_entry(tier: str, cand) -> str | None:
    """Why a replica's candidate entry cannot be merged under
    ``tier``, or None when it can: a JSON object with every field of
    the tier, an integer ``id`` (and ``rank``), a numeric score."""
    if not isinstance(cand, dict):
        return "candidate entry is not a JSON object"
    for field in _TIER_FIELDS[tier]:
        if field not in cand:
            return f"candidate entry without {field!r}"
    _, score, third = _TIER_FIELDS[tier]
    if not _is_int(cand["id"]):
        return "candidate 'id' is not an integer"
    if third == "rank" and not _is_int(cand["rank"]):
        return "candidate 'rank' is not an integer"
    if isinstance(cand[score], bool) or not isinstance(cand[score], (int, float)):
        return f"candidate {score!r} is not a number"
    return None


def _sweep(call, items: list) -> list:
    """``[call(item) for item in items]`` on up to 16 threads: the
    router's one way to reach its replicas, for the point, batch,
    health and reload fan-outs alike. Each call is bounded by the
    per-replica timeout, so a hung replica costs one timeout per
    sweep, not one per replica queued behind it."""
    with ThreadPoolExecutor(max_workers=min(16, len(items))) as ex:
        return list(ex.map(call, items))


class RouterService:
    """Transport-free scatter-gather: fan ``payload`` to every replica's
    ``POST /query``, merge by tier law, answer in the tier's own
    response shape.

    tier: ``"lsh"`` (signature envelope, score-desc merge),
    ``"vector"`` (embedding envelope, dist-asc merge), or ``"lexical"``
    (keyword envelope, round-10 score merge). A lexical router given
    ``vector_replicas`` also serves ``POST /hybrid``: each tier is
    merged exactly FIRST and the RRF fusion runs on the two global
    lists (fusing per-replica hybrid answers would rank by shard-local
    positions — wrong), so the hybrid answer equals the single-machine
    ``hybrid_rrf_point`` over full indexes.

    Failure law: the merge is only exact over a COMPLETE replica cover,
    so any replica error fails the request (502; a replica's own 400
    envelope rejection is passed through) rather than silently serving
    a partial corpus.

    ``timeout`` is the PER-REPLICA socket bound (seconds), applied to
    every fan-out call and every health ping independently: a hung
    replica turns into a 502 after ``timeout``, never an indefinitely
    held router request, and ``GET /health`` pings all replicas in
    parallel so one hung replica costs one timeout for the sweep."""

    TIERS = ("lsh", "vector", "lexical")

    def __init__(
        self,
        tier: str,
        replicas: list[str],
        vector_replicas: list[str] | None = None,
        timeout: float = 10.0,
    ):
        if tier not in self.TIERS:
            raise ValueError(f"tier must be one of {self.TIERS}, got {tier!r}")
        if not replicas:
            raise ValueError("need at least one replica url")
        if vector_replicas is not None and tier != "lexical":
            raise ValueError("vector_replicas only compose with tier='lexical'")
        self.tier = tier
        self.replicas = [u.rstrip("/") for u in replicas]
        self.vector_replicas = [
            u.rstrip("/") for u in (vector_replicas or [])
        ]
        self.timeout = timeout

    # -- transport ---------------------------------------------------------
    @staticmethod
    def _parse_body(raw: bytes, status: int) -> dict:
        """Replica bodies are normalized to dicts here, so every later
        access (body.get, the candidates check) is total — an
        unparseable or non-object body from a replica (or a proxy in
        front of it) must become a routed error, never an exception
        that drops the client connection."""
        try:
            body = json.loads(raw)
        except (ValueError, json.JSONDecodeError):
            return {"error": f"replica returned an unparseable HTTP {status} body"}
        if not isinstance(body, dict):
            return {"error": f"replica returned a non-object HTTP {status} body"}
        return body

    def _post(self, url: str, payload: dict) -> tuple[int, dict]:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, self._parse_body(resp.read(), resp.status)
        except urllib.error.HTTPError as e:
            return e.code, self._parse_body(e.read(), e.code)
        except (urllib.error.URLError, OSError) as e:
            return 503, {"error": f"replica unreachable: {e}"}

    def _fan(self, urls: list[str], payload: dict):
        return _sweep(lambda u: self._post(u + "/query", payload), urls)

    @staticmethod
    def _check_cover(tier: str, urls: list[str], results):
        """(error_response | None, per-replica candidate lists) from one
        query's fan-out results — one pass, replica order: envelope
        rejection, replica error, or a 200 whose candidates are not a
        list of entries :meth:`_merge_tier` can merge under ``tier``
        (a replica failure too — 502 like any other incomplete cover,
        never an exception that drops the connection). Bodies are
        dicts by _parse_body. ONE implementation for the point, batch
        and hybrid endpoints so the failure law cannot diverge between
        them."""
        for url, (status, body) in zip(urls, results):
            if status == 400:
                # envelope rejection — every replica validates alike;
                # surface the replica's own message to the caller
                return (400, body), None
            cands = body.get("candidates")
            if status != 200:
                detail = body.get("error")
            elif not isinstance(cands, list):
                detail = "200 response without a candidates list"
            else:
                detail = next(
                    filter(None, (_bad_entry(tier, c) for c in cands)), None
                )
                if detail is None:
                    continue
            return (
                502,
                {
                    "error": "replica failed; partial answers are not "
                    "served (merge is only exact over a complete cover)",
                    "replica": url,
                    "detail": detail,
                },
            ), None
        return None, [body["candidates"] for _s, body in results]

    def _gather(self, tier: str, urls: list[str], payload: dict):
        """(error_response | None, per-replica candidate lists)."""
        return self._check_cover(tier, urls, self._fan(urls, payload))

    @staticmethod
    def _merge_tier(tier: str, cand_lists, k: int) -> list[dict]:
        """Merge per-replica candidate lists under ``tier``'s exact law,
        in the tier's own response shape — one implementation for the
        point, batch and hybrid endpoints, so a batch entry's answer is
        identical to posting that query alone. Entries carry
        ``_TIER_FIELDS[tier]``, as :meth:`_check_cover` made sure."""
        fields = _TIER_FIELDS[tier]
        _, score, third = fields
        if tier == "lsh":
            previews = {c["id"]: c[third] for cands in cand_lists for c in cands}
            merged = serving.merge_topk(
                [
                    [(c["id"], c[score], i + 1) for i, c in enumerate(cands)]
                    for cands in cand_lists
                ],
                k=k,
            )
            return [dict(zip(fields, (d, s, previews[d]))) for (d, s, _r) in merged]
        merge = (
            serving_vector.merge_topk_dist
            if tier == "vector"
            else retrieval.merge_topk_scores
        )
        merged = merge(
            [[(c["id"], c[score], c[third]) for c in cands] for cands in cand_lists],
            k=k,
        )
        return [dict(zip(fields, hit)) for hit in merged]

    # -- endpoints ----------------------------------------------------------
    @_rejects(_Reject)
    def handle_query(self, payload) -> tuple[int, dict]:
        k = _k(_object(payload))
        err, cand_lists = self._gather(self.tier, self.replicas, payload)
        if err is not None:
            return err
        return 200, {"candidates": self._merge_tier(self.tier, cand_lists, k)}

    @_rejects(_Reject)
    def handle_query_batch(self, payload) -> tuple[int, dict]:
        """``POST /query_batch``: fan a query SET across the replica
        cover and merge PER QUERY with the tier's exact law —
        ``results[i]`` is identical to posting ``queries[i]`` to
        ``POST /query`` alone (e2e-asserted in ``test_router.py``).

        Envelope: ``{"queries": [<per-query envelope>, ...], "k"?:
        int}`` — a query without its own ``k`` inherits the batch
        ``k``. Answer: ``{"results": [{"candidates": [...]}, ...]}``
        in query order.

        Scale shape: ONE sweep over all (query, replica) pairs — a
        Q-query batch against R replicas costs ceil(Q*R/pool)
        round-trip times, not Q sequential fan-outs; per-replica
        timeouts apply to every pair independently.

        Failure law: the batch is all-or-nothing, like the point
        endpoint's complete-cover rule — any replica failure on any
        query fails the request (502), and an envelope rejection
        surfaces the replica's own 400 with the offending query index
        (serving a batch with silently-missing entries would read as
        complete)."""
        queries = _object(payload).get("queries")
        if not isinstance(queries, list) or not queries:
            raise _Reject("queries must be a non-empty list")
        batch_k = _k(payload)
        prepared = []
        for i, q in enumerate(queries):
            if not isinstance(q, dict):
                raise _Reject(f"queries[{i}] must be a JSON object")
            k = _integer(q, "k", batch_k, f"queries[{i}].k must be an integer")
            prepared.append({**q, "k": k})
        flat = _sweep(
            lambda pair: self._post(pair[1] + "/query", pair[0]),
            [(q, url) for q in prepared for url in self.replicas],
        )
        n_rep = len(self.replicas)
        results = []
        for qi, q in enumerate(prepared):
            err, cand_lists = self._check_cover(
                self.tier, self.replicas, flat[qi * n_rep : (qi + 1) * n_rep]
            )
            if err is not None:
                status, body = err
                return status, {**body, "query_index": qi}
            merged = self._merge_tier(self.tier, cand_lists, max(1, q["k"]))
            results.append({"candidates": merged})
        return 200, {"results": results}

    @_rejects(_Reject)
    def handle_hybrid(self, payload) -> tuple[int, dict]:
        if not self.vector_replicas:
            return 404, {"error": "router has no vector replicas"}
        k = _k(_object(payload))
        c = _positive(payload, "c", 60)
        vec_payload = {
            key: payload[key]
            for key in ("vector", "n_probe", "shortlist")
            if key in payload
        }
        lists = []
        for tier, urls, sub in (
            ("lexical", self.replicas, {"query": payload.get("query"), "k": k}),
            ("vector", self.vector_replicas, {**vec_payload, "k": k}),
        ):
            err, cand_lists = self._gather(tier, urls, sub)
            if err is not None:
                return err
            lists.append(cand_lists)
        # each tier merged exactly first, as (id, score | dist, rank)
        lex_hits, vec_hits = (
            [tuple(c.values()) for c in self._merge_tier(tier, cands, k)]
            for tier, cands in zip(("lexical", "vector"), lists)
        )
        fused = retrieval.rrf_fuse_lists(lex_hits, vec_hits, k=k, c=c)
        return 200, _candidates(fused, ("id", "rrf", "rank"))

    def handle_health(self) -> tuple[int, dict]:
        """Aggregate replica liveness AND staleness in one parallel
        sweep: ``replicas`` keeps its liveness-boolean shape; the
        sibling ``stale`` map folds each replica's per-index
        staleness report to one tri-state — True (any served index
        stale: a reload is pending), False (every tracked index
        fresh), null (unknown: replica down, pre-staleness replica, or
        no index trackable). Liveness alone decides the status code —
        a stale replica still serves a consistent (pre-delete)
        snapshot, so it is a reload prompt, not an outage."""

        def ping(url):
            try:
                with urllib.request.urlopen(
                    url + "/health", timeout=self.timeout
                ) as resp:
                    if resp.status != 200:
                        return False, None
                    try:
                        body = json.loads(resp.read())
                    except (ValueError, json.JSONDecodeError):
                        return True, None
            except (urllib.error.URLError, OSError):
                return False, None
            vals = list(
                (body.get("stale") or {}).values()
                if isinstance(body, dict)
                else []
            )
            if any(v is True for v in vals):
                return True, True
            if vals and all(v is False for v in vals):
                return True, False
            return True, None

        urls = self.replicas + self.vector_replicas
        results = dict(zip(urls, _sweep(ping, urls)))
        ok = {url: alive for url, (alive, _s) in results.items()}
        status = 200 if all(ok.values()) else 503
        return status, {
            "status": "ok" if status == 200 else "degraded",
            "tier": self.tier,
            "replicas": ok,
            "stale": {url: s for url, (_a, s) in results.items()},
        }

    def handle_reload(self, payload) -> tuple[int, dict]:
        """Fan ``POST /reload`` to every replica (both tiers for a
        hybrid router) in parallel. All-or-nothing REPORTING, not
        all-or-nothing effect: each replica's reload is its own atomic
        swap, so a failed replica stays on its old snapshot and the
        502 tells the operator to re-issue — the merge law is
        unaffected either way (every replica always serves a complete
        answer for its shard, just possibly a pre-delete one)."""
        body = payload if isinstance(payload, dict) else {}
        urls = self.replicas + self.vector_replicas
        results = _sweep(lambda u: self._post(u + "/reload", body), urls)
        report = {
            url: resp for url, (_status, resp) in zip(urls, results)
        }
        status = 200 if all(s == 200 for s, _b in results) else 502
        return status, {
            "status": "ok" if status == 200 else "partial",
            "replicas": report,
        }


def start_router_server(
    tier: str,
    replicas: list[str],
    vector_replicas: list[str] | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    timeout: float = 10.0,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Bind a scatter-gather router over replica servers: ``POST
    /query`` fans out and merges by tier law; ``POST /query_batch``
    fans a query SET in one sweep and merges per query with the same
    law; a lexical router with ``vector_replicas`` also serves ``POST
    /hybrid``; ``GET /health`` aggregates replica health; ``POST
    /reload`` fans the staleness-checked re-snapshot to every replica
    (after a compaction or a delete). Same start/stop contract
    as :func:`start_server`."""
    service = RouterService(tier, replicas, vector_replicas, timeout)
    return _serve(
        {
            "/query": service.handle_query,
            "/query_batch": service.handle_query_batch,
            "/hybrid": service.handle_hybrid,
            "/reload": service.handle_reload,
        },
        service.handle_health,
        host,
        port,
    )
