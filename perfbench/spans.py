"""Tracing for the traced run: spans recorded around calls into the
crawler's layers, and a fetcher wrapper that logs per-batch work from
inside the Arrow workers.

Spans are kept in memory (name, start, end, parent) and turned into
per-layer metrics when the run ends. Nothing here changes what the
crawler computes: every wrapper calls the original and returns its result.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class SpanRecorder:
    """Thread-safe in-memory span log. ``parent`` is the id of the span
    that was open on the recording thread when the span started; on a
    thread with no open span (the crawler's write pools) it is ``root``,
    which the caller sets to the round's span."""

    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []
        self.root: int | None = None  # span new threads attach to
        self.enabled = True  # wrappers pass straight through when False

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == span_id and s["end"] is not None]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["end"] is not None]


def _wrap(rec: SpanRecorder, fn, name_of):
    def traced(*a, **kw):
        if not rec.enabled:
            return fn(*a, **kw)
        with rec.span(name_of(a, kw)):
            return fn(*a, **kw)
    traced.__wrapped__ = fn
    return traced


@contextlib.contextmanager
def patched_layers(rec: SpanRecorder, dataframe_cls):
    """Install span wrappers on the layer entry points the round loop
    calls, and remove them on exit. Names follow the package modules.
    ``dataframe_cls`` is the concrete DataFrame class the session
    returns (its ``collect`` is where a round's fetch action runs)."""
    from distributed_web_crawler_spark.crawl import driver
    from distributed_web_crawler_spark.tables.snapshot_store import (
        SnapshotStore,
    )

    targets = [
        (driver.Crawler, "_state_for", lambda a, k: "driver.state"),
        (driver.Crawler, "_compact_state", lambda a, k: "driver.compact"),
        (driver, "build_fetch", lambda a, k: "round.build_fetch"),
        (driver, "finish_round", lambda a, k: "round.finish_round"),
        (SnapshotStore, "stage_write",
         lambda a, k: f"store.write.{a[1]}"),
        (SnapshotStore, "read", lambda a, k: "store.read"),
        (SnapshotStore, "commit_round", lambda a, k: "store.commit"),
        (dataframe_cls, "collect", lambda a, k: "spark.collect"),
    ]
    saved = []
    try:
        for owner, attr, name_of in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, _wrap(rec, orig, name_of))
        yield rec
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def traced_fetcher(fetcher, log_dir: str):
    """Wrap an injectable fetcher so each Arrow batch appends one line
    ``busy_s rows ok_rows payload_bytes`` to a per-worker-process log in
    ``log_dir``. The wrapper consumes its input one batch at a time, so
    the timed region is exactly the fetch of that batch."""

    def fetch(batches):
        path = os.path.join(log_dir, f"fetch-{os.getpid()}.log")
        for pdf in batches:
            t0 = time.perf_counter()
            outs = list(fetcher(iter([pdf])))
            busy = time.perf_counter() - t0
            rows = ok = nbytes = 0
            for out in outs:
                rows += len(out)
                ok += int(out["fetched"].sum())
                nbytes += sum(len(b) for b in out["bytes"]
                              if b is not None)
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND,
                         0o644)
            try:
                os.write(fd, f"{busy:.6f} {rows} {ok} {nbytes}\n".encode())
            finally:
                os.close(fd)
            yield from outs

    return fetch


def read_fetch_logs(log_dir: str) -> dict:
    """Sum the worker fetch logs: busy seconds, rows, ok rows, bytes."""
    tot = {"busy_s": 0.0, "rows": 0, "ok": 0, "bytes": 0, "batches": 0}
    if not os.path.isdir(log_dir):
        return tot
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) != 4:
                    continue
                tot["busy_s"] += float(parts[0])
                tot["rows"] += int(parts[1])
                tot["ok"] += int(parts[2])
                tot["bytes"] += int(parts[3])
                tot["batches"] += 1
    return tot
