"""Open-loop HTTP load against the crawl-store API.

Requests follow a fixed schedule (request i is due at start + i / rate)
regardless of how fast earlier ones completed, so a stalled server builds
a backlog instead of receiving less load. A dispatcher thread releases
each request at its due time to a pool of at most ``connections`` client
threads; latency is measured from the due time, so queueing behind a
stall counts. Generator lateness (release time minus due time) is
reported separately.
"""

from __future__ import annotations

import http.client
import json
import queue
import random
import threading
import time
from urllib.parse import quote

from .stats import open_loop_schedule

# One cycle of the request mix, repeated in this fixed order: every run
# sends the same proportions, so the latency median does not move with
# how many cheap (status, enqueue) requests a random draw happened to
# pick. "enqueue" becomes "status" when writes are off.
#
# The mix is synthetic: the project has no request log to draw it from.
# Per 20 requests: status 6 (a console polls crawl progress most often;
# the cheapest call, one commit-marker read), pages 5 (paging through
# results is the main read of committed parquet), search 3 and count 3
# (the heavier DuckDB scans a user issues less often than paging), stats
# 2 (the full rollup, the heaviest read, rarest), enqueue 1 (writes are a
# small share of the traffic, and each one must be consumed at a round
# barrier and checked afterwards).
MIX_CYCLE = ("pages", "status", "search", "count", "pages", "status",
             "stats", "search", "pages", "status", "count", "enqueue",
             "pages", "status", "search", "stats", "pages", "status",
             "count", "status")


class OpenLoop:
    """One open-loop generator run. ``make_urls(rng)`` yields the URL
    batch a write request enqueues; ``search_terms`` feed the search
    endpoint. Writes are only sent while ``writes_open`` is set; the
    caller calls ``close_writes`` before a round that must consume every
    acknowledged write."""

    def __init__(self, port: int, rate: float, seed: int, search_terms,
                 make_urls=None, connections: int = 4,
                 timeout: float = 10.0):
        self.port = port
        self.rate = rate
        self.rng = random.Random(seed)
        self.search_terms = list(search_terms)
        self.make_urls = make_urls
        self.connections = connections
        self.timeout = timeout
        self.results: list[dict] = []   # one per request released
        self.acked_urls: list[str] = []
        self.writes_open = threading.Event()
        if make_urls is not None:
            self.writes_open.set()
        self._writes_busy = 0
        self._writes_cv = threading.Condition()
        self._stop = threading.Event()
        self._queue: queue.Queue = queue.Queue()
        self._threads: list[threading.Thread] = []

    # -- request construction ---------------------------------------------

    def _pick(self, i: int) -> tuple[str, str, str, bytes | None]:
        ep = MIX_CYCLE[i % len(MIX_CYCLE)]
        if ep == "enqueue" and self.make_urls is None:
            ep = "status"
        if ep == "pages":
            off = self.rng.randrange(0, 200)
            return ep, "GET", f"/api/data/pages?limit=20&offset={off}", None
        if ep == "search":
            term = self.rng.choice(self.search_terms)
            return (ep, "GET",
                    f"/api/data/pages/search?query={quote(term)}&limit=20",
                    None)
        if ep == "count":
            return ep, "GET", "/api/data/pages/count", None
        if ep == "stats":
            return ep, "GET", "/api/data/stats", None
        if ep == "status":
            return ep, "GET", "/api/crawler/status", None
        body = json.dumps({"urls": self.make_urls(self.rng)}).encode()
        return ep, "POST", "/api/crawler/urls", body

    # -- threads ------------------------------------------------------------

    def _send(self, method: str, path: str, body: bytes | None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=self.timeout)
        try:
            headers = {"Content-Type": "application/json"} if body else {}
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _client(self) -> None:
        while True:
            item = self._queue.get()
            if item is None:
                return
            res, method, path, body = item
            try:
                status, payload = self._send(method, path, body)
                res["status"] = status
                if res["endpoint"] == "enqueue" and status == 200:
                    self.acked_urls.extend(json.loads(payload)["urls"])
            except (OSError, http.client.HTTPException, ValueError) as e:
                res["status"] = None
                res["error"] = repr(e)
            finally:
                res["done"] = time.perf_counter()
                if res["endpoint"] == "enqueue":
                    with self._writes_cv:
                        self._writes_busy -= 1
                        self._writes_cv.notify_all()

    def _dispatch(self, t0: float, duration: float) -> None:
        for i, off in enumerate(open_loop_schedule(self.rate, duration)):
            due = t0 + off
            delay = due - time.perf_counter()
            if delay > 0 and self._stop.wait(delay):
                break
            if self._stop.is_set():
                break
            ep, method, path, body = self._pick(i)
            if ep == "enqueue":
                with self._writes_cv:
                    if not self.writes_open.is_set():
                        ep, method, path, body = ("status", "GET",
                                                  "/api/crawler/status",
                                                  None)
                    else:
                        self._writes_busy += 1
            res = {"endpoint": ep, "due": due,
                   "sent": time.perf_counter()}
            self.results.append(res)
            self._queue.put((res, method, path, body))

    def start(self, duration: float = 3600.0) -> None:
        t0 = time.perf_counter()
        for _ in range(self.connections):
            t = threading.Thread(target=self._client, daemon=True)
            t.start()
            self._threads.append(t)
        d = threading.Thread(target=self._dispatch, args=(t0, duration),
                             daemon=True)
        d.start()
        self._dispatcher = d

    def close_writes(self) -> None:
        """Stop sending writes and wait until none is in flight: every
        write acknowledged so far is then durably in the pending file."""
        with self._writes_cv:
            self.writes_open.clear()
            self._writes_cv.wait_for(lambda: self._writes_busy == 0,
                                     timeout=self.timeout + 5)

    def stop(self) -> None:
        """Stop releasing requests, let in-flight ones finish, join."""
        self._stop.set()
        self._dispatcher.join(timeout=30)
        for _ in self._threads:
            self._queue.put(None)
        for t in self._threads:
            t.join(timeout=self.timeout + 5)

    def capacity(self, seconds: float) -> float:
        """Closed-loop capacity: requests per second the server completes
        with 2xx when each of ``connections`` clients sends the next
        request of the cycle as soon as its last one returns. Writes are
        left out (sent as status), so nothing is left for a round to
        consume. Run it while no open loop is running."""
        lock = threading.Lock()
        state = {"i": 0, "ok": 0}
        deadline = time.perf_counter() + seconds

        def client():
            while time.perf_counter() < deadline:
                with lock:
                    i = state["i"]
                    state["i"] += 1
                    ep, method, path, body = self._pick(i)
                if ep == "enqueue":
                    method, path, body = "GET", "/api/crawler/status", None
                try:
                    status, _ = self._send(method, path, body)
                except (OSError, http.client.HTTPException):
                    continue
                if 200 <= status < 300:
                    with lock:
                        state["ok"] += 1

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, daemon=True)
                   for _ in range(self.connections)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + self.timeout + 5)
        return state["ok"] / (time.perf_counter() - t0)

    # -- results ------------------------------------------------------------

    def completed(self) -> list[dict]:
        return [r for r in self.results if "done" in r]
