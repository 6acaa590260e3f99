"""Load generator for the router (runs in the benchmark process, never
in the program's process).

- ``open_loop``: requests are due on a fixed schedule (``rate`` per
  second) whether or not earlier ones have finished, as independent
  users would send them. Latency runs from the time a request was due,
  so a stall also charges the requests queued behind it; lateness is
  how long after its due time a request actually left.
- ``closed_loop``: ``clients`` threads each send their next request as
  soon as the previous answer arrives, until a deadline; completions
  per second of the slice is the saturation throughput.

Every request opens its own connection, as the program's HTTP/1.0
server closes it after each answer.
"""

from __future__ import annotations

import http.client
import json
import queue
import threading
import time
from urllib.parse import urlsplit


class Client:
    def __init__(self, url: str, vectors: list, k: int, tracer=None):
        parts = urlsplit(url)
        self.host, self.port = parts.hostname, parts.port
        self.vectors = vectors
        self.k = k
        self.tracer = tracer
        self.bodies = [
            json.dumps({"vector": v, "k": k}).encode() for v in vectors
        ]

    def post(self, i: int, due: float | None = None):
        """Send query ``i % len(vectors)``. Returns (status, body, send,
        end) with monotonic times; status 0 for a transport error."""
        sid = None
        if self.tracer is not None:
            sid = self.tracer.new_id()
            body = json.dumps(
                {"vector": self.vectors[i % len(self.vectors)], "k": self.k,
                 "_span": sid}
            ).encode()
        else:
            body = self.bodies[i % len(self.bodies)]
        send = time.monotonic()
        try:
            conn = http.client.HTTPConnection(self.host, self.port, timeout=30)
            try:
                conn.request("POST", "/query", body,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                status, data = resp.status, resp.read()
            finally:
                conn.close()
        except OSError:
            status, data = 0, b""
        end = time.monotonic()
        if self.tracer is not None:
            self.tracer.record("client.request", due if due is not None else send,
                               end, sid=sid, send=send, status=status)
        return status, data, send, end


def open_loop(client: Client, rate: float, seconds: float, workers: int,
              first: int = 0) -> list[tuple]:
    """Returns one (due, send, end, status) per request."""
    n = max(1, int(rate * seconds))
    results: list = [None] * n
    todo: queue.SimpleQueue = queue.SimpleQueue()

    def work():
        while True:
            item = todo.get()
            if item is None:
                return
            i, due = item
            status, _data, send, end = client.post(first + i, due)
            results[i] = (due, send, end, status)

    threads = [threading.Thread(target=work, daemon=True) for _ in range(workers)]
    for t in threads:
        t.start()
    start = time.monotonic() + 0.05
    for i in range(n):
        due = start + i / rate
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        todo.put((i, due))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join(timeout=120)
    return [r for r in results if r is not None]


def closed_loop(client: Client, clients: int, seconds: float,
                first: int = 0) -> tuple[list[tuple], float]:
    """Returns one (send, end, status) per request sent before the
    deadline, and the seconds until the last answer arrived."""
    results: list = []
    lock = threading.Lock()
    counter = iter(range(first, first + 10**9))
    start = time.monotonic()
    deadline = start + seconds

    def work():
        while True:
            with lock:
                i = next(counter)
            if time.monotonic() >= deadline:
                return
            status, _data, send, end = client.post(i)
            results.append((send, end, status))

    threads = [threading.Thread(target=work, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    return results, max((r[1] for r in results), default=deadline) - start
