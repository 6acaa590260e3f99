"""In-memory spans for the traced run.

A span is ``(id, parent, name, start, end, attrs)`` with monotonic
clock times (CLOCK_MONOTONIC, shared by every process on the host, so
spans from the load generator and the server process line up). Spans
are appended to a list and written out once, when the run ends.

The traced run wraps the program's public functions from here; the
program itself carries no tracing code. A span's parent is the span
open on the same thread, or the id passed in explicitly when work
crosses a thread or process (the router's fan-out threads, the HTTP
hop): the caller puts its span id in the request body as ``_span``,
which the program's request handlers ignore.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

import common


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._prefix = os.getpid() << 32
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def new_id(self) -> int:
        return self._prefix | next(self._ids)

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record ``name`` around the block; yields the span id and an
        attrs dict the block may add to."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = self.new_id()
        stack.append(sid)
        start = time.monotonic()
        try:
            yield sid, attrs
        finally:
            end = time.monotonic()
            stack.pop()
            self.spans.append((sid, parent, name, start, end, attrs))

    def record(self, name, start, end, parent=None, sid=None, **attrs):
        """Add a span whose times were taken elsewhere."""
        self.spans.append((sid or self.new_id(), parent, name, start, end, attrs))

    def wrap(self, owner, attr: str, name: str, parent_of=None, forward=None):
        """Replace ``owner.attr`` with a traced version.

        ``parent_of(args, kwargs)`` picks an explicit parent id from the
        call; ``forward(args, kwargs, sid)`` rewrites the call so the
        callee can name this span as its parent."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            parent = parent_of(args, kwargs) if parent_of else None
            with self.span(name, parent) as (sid, attrs):
                if forward:
                    args, kwargs = forward(args, kwargs, sid)
                result = original(*args, **kwargs)
                if isinstance(result, tuple) and result and isinstance(result[0], int):
                    attrs["status"] = result[0]
                return result

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def load(path: str) -> list[tuple]:
    with open(path) as fh:
        return [tuple(s) for s in json.load(fh)]


def payload_span(index: int):
    """``parent_of`` for handlers taking the request body at ``args[index]``."""

    def parent_of(args, kwargs):
        payload = args[index] if len(args) > index else None
        return payload.get("_span") if isinstance(payload, dict) else None

    return parent_of


def forward_in_payload(index: int):
    """``forward`` that stamps this span's id into the body at ``args[index]``."""

    def forward(args, kwargs, sid):
        payload = args[index]
        if isinstance(payload, dict):
            args = args[:index] + ({**payload, "_span": sid},) + args[index + 1 :]
        return args, kwargs

    return forward


def instrument_serving(tracer: Tracer) -> None:
    """Wrap the online path's public layers: router request, fan-out,
    per-replica POST, replica request, index probe, band hashing and
    the top-k merge."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
        serving,
        serving_hash,
        serving_http,
    )

    router = serving_http.RouterService
    tracer.wrap(router, "handle_query", "serving_http.router_handle",
                parent_of=payload_span(1))
    tracer.wrap(router, "_fan", "serving_http.fanout",
                forward=forward_in_payload(2))
    tracer.wrap(router, "_post", "serving_http.replica_post",
                parent_of=payload_span(2), forward=forward_in_payload(2))
    tracer.wrap(serving_http.QueryService, "handle_query",
                "serving_http.handle_query", parent_of=payload_span(1))
    tracer.wrap(serving.ServingIndex, "query", "serving.query")
    tracer.wrap(serving_hash, "band_hashes_local", "serving_hash.band_hashes")
    tracer.wrap(serving, "merge_topk", "serving.merge_topk")


def children(spans) -> dict:
    """parent id -> list of child spans."""
    out: dict = {}
    for s in spans:
        out.setdefault(s[1], []).append(s)
    return out


def duration_ms(span) -> float:
    return (span[4] - span[3]) * 1e3


def self_ms(span, kids: dict) -> float:
    """Span duration minus the part of it its children cover."""
    covered = common.union_length(
        (max(c[3], span[3]), min(c[4], span[4])) for c in kids.get(span[0], ())
    )
    return duration_ms(span) - covered * 1e3
