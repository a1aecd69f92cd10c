"""Tests of the benchmark's own arithmetic and load generator.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.loadgen import OpenLoop  # noqa: E402
from perfbench.spans import SpanRecorder  # noqa: E402
from perfbench.stats import (  # noqa: E402
    covered,
    median,
    open_loop_lateness,
    open_loop_schedule,
    percentile,
    samples_beyond,
    self_time,
    tail_percentile,
)
from perfbench.workloads import check_enqueues, check_repeat  # noqa: E402

# -- percentiles and the tail rule ------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


@pytest.mark.parametrize("n,want", [
    (10_000, 99.9),   # 10 samples beyond p99.9
    (9_999, 99.0),    # 9 beyond p99.9 is too few
    (1_000, 99.0),
    (999, 95.0),
    (200, 95.0),
    (199, 90.0),
    (100, 90.0),
    (20, 50.0),
    (19, None),       # not even the median has ten beyond it
    (0, None),
])
def test_tail_percentile_needs_ten_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert samples_beyond(n, want) >= 10


def test_tail_percentile_is_highest_qualifying():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        higher = [c for c in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0) if c > p]
        assert all(samples_beyond(n, c) < 10 for c in higher)


# -- open-loop schedule and lateness -----------------------------------------


def test_open_loop_schedule_is_fixed_rate():
    due = open_loop_schedule(10.0, 1.0)
    assert due == [i / 10.0 for i in range(10)]
    assert open_loop_schedule(4.0, 0.0) == []
    with pytest.raises(ValueError):
        open_loop_schedule(0.0, 1.0)


def test_lateness_is_send_minus_due_never_negative():
    assert open_loop_lateness([0.0, 0.1, 0.2], [0.0, 0.15, 0.19]) == \
        pytest.approx([0.0, 0.05, 0.0])
    with pytest.raises(ValueError):
        open_loop_lateness([0.0], [])


class _SlowHandler(BaseHTTPRequestHandler):
    delay = 0.05

    def log_message(self, *a):
        pass

    def do_GET(self):
        time.sleep(self.delay)
        body = json.dumps({"ok": True}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def test_open_loop_counts_backlog_from_due_time():
    """One connection, 50 ms service, 100 req/s offered: the loop keeps its
    schedule, so requests queue and latency measured from the due time
    grows far past the service time."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        gen = OpenLoop(srv.server_address[1], rate=100.0, seed=1,
                       search_terms=["x"], connections=1)
        gen.start(duration=0.3)
        time.sleep(0.35)
        gen.stop()
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=5)
    assert not th.is_alive()
    done = gen.completed()
    assert len(done) == len(gen.results) == 30
    lat = [r["done"] - r["due"] for r in done]
    assert all(r["status"] == 200 for r in done)
    assert max(lat) > 10 * 0.05          # the last waits behind the backlog
    assert lat[-1] > lat[0]
    # the dispatcher itself released every request close to its due time
    lag = open_loop_lateness([r["due"] for r in done],
                             [r["sent"] for r in done])
    assert max(lag) < 0.05


def test_capacity_is_closed_loop_rate_and_leaves_no_results():
    """Two clients against a 50 ms server complete about 40 req/s; the
    probe records nothing in the open-loop results."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        gen = OpenLoop(srv.server_address[1], rate=1.0, seed=1,
                       search_terms=["x"], connections=2)
        cap = gen.capacity(0.5)
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=5)
    assert 20.0 < cap <= 2 / _SlowHandler.delay
    assert gen.results == []


# -- spans and self time -----------------------------------------------------


def test_covered_counts_overlap_once():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 5), (1, 2)]) == 5
    assert covered([]) == 0
    assert covered([(3, 3), (4, 2)]) == 0


def test_self_time_subtracts_union_of_children():
    # children overlap (parallel writes) and one sticks out of the parent
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(0, 10)]) == 0
    assert self_time((0, 10), [(11, 12), (-3, -1)]) == 10


def test_span_recorder_parents():
    rec = SpanRecorder()
    with rec.span("round") as root:
        rec.root = root["id"]
        with rec.span("child") as child:
            with rec.span("grandchild") as gc:
                pass
        seen = {}

        def worker():
            with rec.span("pool") as sp:
                seen["parent"] = sp["parent"]

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
        rec.root = None
    assert child["parent"] == root["id"]
    assert gc["parent"] == child["id"]
    assert seen["parent"] == root["id"]  # pool threads attach to the round
    kids = {s["name"] for s in rec.children(root["id"])}
    assert kids == {"child", "pool"}
    assert all(s["end"] >= s["start"] for s in rec.spans)


# -- counts that must repeat per seed ---------------------------------------


def test_check_repeat_records_then_compares_common_prefix(tmp_path):
    book = str(tmp_path / "expect.json")
    two = [{"polled": 5}, {"polled": 9}]
    assert check_repeat(book, "k", two) == []             # first run records
    assert check_repeat(book, "k", two[:1]) == []         # shorter prefix
    assert check_repeat(book, "k", two + [{"polled": 3}]) == []
    with open(book) as fh:
        assert len(json.load(fh)["k"]) == 3               # longer run kept
    assert check_repeat(book, "k", [{"polled": 6}]) != []  # a count moved
    assert check_repeat(book, "rows", 7) == []
    assert check_repeat(book, "rows", 8) != []
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]


# -- acknowledged enqueues end in the URL-seen state ------------------------


def test_check_enqueues_fails_a_staged_but_dropped_url(tmp_path):
    """Both URLs were staged in an inject batch, but only one reached the
    committed URL-seen bloom: the other must fail the check."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_web_crawler_spark.config import CrawlConfig
    from distributed_web_crawler_spark.functions import bloom
    from distributed_web_crawler_spark.functions.xxh64 import xxhash64
    from distributed_web_crawler_spark.tables.snapshot_store import (
        SnapshotStore,
    )

    cfg = CrawlConfig(url_seen_shards=4, bloom_bits_per_shard=1 << 12)
    m, k = cfg.bloom_bits_per_shard, cfg.bloom_num_hashes
    kept = "http://h1.example.com/p/1"
    dropped = "http://h2.example.com/p/2"
    store = SnapshotStore(str(tmp_path))
    filters = {s: bloom.empty_filter(m) for s in range(4)}
    h1, h2 = xxhash64(kept), xxhash64(kept, ("i32", 1))
    filters[h1 % 4] = bloom.insert(filters[h1 % 4],
                                   np.array([h1], dtype=np.int64),
                                   np.array([h2], dtype=np.int64), m, k)
    pq.write_table(pa.table({"shard": list(filters),
                             "filter_bytes": list(filters.values())}),
                   os.path.join(store.round_dir("bloom", 1, create=True),
                                "part-0.parquet"))
    pq.write_table(pa.table({"url": [kept, dropped]}),
                   os.path.join(store.round_dir("inject", 0, create=True),
                                "part-0.parquet"))
    store.commit_round(0)
    store.commit_round(1)

    assert check_enqueues(str(tmp_path), cfg, [kept]) == []
    bad = check_enqueues(str(tmp_path), cfg, [kept, dropped])
    assert len(bad) == 1 and "not in the URL-seen state" in bad[0]
    # an acknowledged URL that was never staged fails on both counts
    bad = check_enqueues(str(tmp_path), cfg, ["http://h3.example.com/p/3"])
    assert len(bad) == 2
