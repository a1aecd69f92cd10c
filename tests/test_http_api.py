"""HTTP read/control API over a crawl store (api/http_api.py) — the
reference REST surface (DataController/CrawlerController) driven over
real sockets against a real store: pagination/search/count parity with
the engine's own Spark views, live status, graceful stop/start, and the
anytime-enqueue path consumed by the crawl loop with golden parity."""

import glob
import http.client
import json
import os
import shutil
import socket

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_web_crawler_spark.api.http_api import serve
from distributed_web_crawler_spark.config import (
    CrawlConfig,
    SynthWebConfig,
)
from distributed_web_crawler_spark.crawl.driver import (
    Crawler,
    CrawlStatus,
    crawl_status,
    enqueue_urls,
    stop_requested,
)
from distributed_web_crawler_spark.crawl.synthweb import seed_urls
from distributed_web_crawler_spark.golden import golden_crawl

SYNTH = SynthWebConfig(n_hosts=10, base_pages_per_host=20)
CFG = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=5,
                  allowed_domains=(r".*\.example\.com",),
                  url_seen_shards=4, bloom_bits_per_shard=1 << 14)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("apistore"))
    c = Crawler(spark, CFG, SYNTH, store)
    seeds = seed_urls(SYNTH, 3)
    c.bootstrap(seeds)
    c.run()
    srv = serve(store)
    yield c, store, seeds, srv.server_address[1]
    srv.shutdown()


def _req(port, method, path, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    payload = json.dumps(body) if body is not None else None
    conn.request(method, path, body=payload,
                 headers={"Content-Type": "application/json"}
                 if payload else {})
    resp = conn.getresponse()
    out = json.loads(resp.read())
    conn.close()
    return resp.status, out


def test_pages_pagination_matches_spark_view(crawled):
    c, _store, _seeds, port = crawled
    expect = sorted(r["url"] for r in c.pages().select("url").collect())

    code, out = _req(port, "GET", "/api/data/pages?limit=4&offset=0")
    assert code == 200 and out["status"] == "success"
    assert [p["url"] for p in out["pages"]] == expect[:4]
    assert out["count"] == 4 and out["limit"] == 4 and out["offset"] == 0

    code, out2 = _req(port, "GET", "/api/data/pages?limit=100&offset=4")
    assert [p["url"] for p in out2["pages"]] == expect[4:]

    # PageMetadata shape (reference storage/StorageService.java:61-69)
    row = out["pages"][0]
    assert set(row) == {"url", "contentHash", "fetchTime", "httpStatus",
                        "links", "metadata"}
    assert row["httpStatus"] == 200
    assert row["fetchTime"].endswith("Z") and "T" in row["fetchTime"]
    assert len(row["contentHash"]) == 64
    assert isinstance(row["links"], list)
    assert row["metadata"]["depth"].isdigit()


def test_count_search_and_stats(crawled):
    c, _store, _seeds, port = crawled
    n = c.pages().count()
    code, out = _req(port, "GET", "/api/data/pages/count")
    assert code == 200 and out == {"status": "success", "totalPages": n}

    # F10/X5 semantics: lowercase substring over urls, L2 cap
    code, out = _req(port, "GET",
                     "/api/data/pages/search?query=H0001&limit=50")
    assert code == 200 and out["status"] == "success"
    urls = [p["url"] for p in out["pages"]]
    assert urls and all("h0001" in u for u in urls)
    expect = sorted(r["url"] for r in c.pages().select("url").collect()
                    if "h0001" in r["url"])
    assert urls == expect

    code, out = _req(port, "GET", "/api/data/pages/search?query=")
    assert code == 400 and out["status"] == "error"

    code, out = _req(port, "GET", "/api/data/stats")
    assert code == 200 and out["statistics"]["totalPages"] == n
    assert out["statistics"]["totals"]["stored"] == n


def test_status_stop_start_roundtrip(crawled):
    _c, store, _seeds, port = crawled
    code, st = _req(port, "GET", "/api/crawler/status")
    assert code == 200
    assert st["rounds_processed"] >= 1
    assert st["totals"]["fetched"] >= st["totals"]["stored"] > 0
    assert st["stop_requested"] is False

    code, out = _req(port, "POST", "/api/crawler/stop")
    assert code == 200 and out["status"] == "success"
    assert stop_requested(store)
    _code, st = _req(port, "GET", "/api/crawler/status")
    assert st["stop_requested"] is True

    code, out = _req(port, "POST", "/api/crawler/start")
    assert code == 200 and out["stopRequested"] is False
    assert not stop_requested(store)


def test_unknown_path_404(crawled):
    _c, _store, _seeds, port = crawled
    code, out = _req(port, "GET", "/api/data/nope")
    assert code == 404 and out["status"] == "error"
    code, out = _req(port, "POST", "/api/crawler/urls", body={"urls": []})
    assert code == 400


def test_enqueue_via_http_consumed_with_golden_parity(
        spark, tmp_path):
    """POST /api/crawler/urls mid-crawl: the pending file is consumed at
    the next round barrier through the durable inject path, and the
    finished crawl matches the golden model with the same injections."""
    store = str(tmp_path / "store")
    seeds = seed_urls(SYNTH, 3)
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seeds)
    c.run(max_rounds=2)
    target = c.store.last_round()

    srv = serve(store)
    try:
        port = srv.server_address[1]
        extra = ["http://h0007.example.com/p/3",
                 "http://h0008.example.com/p/1"]
        code, out = _req(port, "POST", "/api/crawler/urls",
                         body={"urls": extra})
        assert code == 200 and out["urls"] == extra
        # single-url variant appends to the same queue
        code, out = _req(port, "POST", "/api/crawler/url",
                         body={"url": extra[0]})
        assert code == 200
    finally:
        srv.shutdown()

    c.run()
    g = golden_crawl(seeds, CFG, SYNTH,
                     injections={target: extra + [extra[0]]})
    assert g.visits == c.visit_sequence()


def test_claim_removed_by_another_process_still_commits(spark, tmp_path):
    """Two run() processes can both claim a consuming-* leftover; when the
    other one has already staged and removed it, dropping the claim must
    not raise and the round must still commit."""
    import glob
    import os

    store = str(tmp_path / "store")
    seeds = seed_urls(SYNTH, 2)
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    extra = "http://h0007.example.com/p/3"
    enqueue_urls(store, [extra])

    stage = c.inject

    def stage_then_lose_claim(urls):
        out = stage(urls)
        claims = glob.glob(os.path.join(store, "_control", "consuming-*"))
        assert claims
        for path in claims:
            os.remove(path)
        return out

    c.inject = stage_then_lose_claim
    stats = c.run(max_rounds=2)
    assert stats["rounds"] == 1
    assert c.store.last_round() == 2
    assert stats["per_round"][0]["injected"] == 1


def test_claim_vanished_before_read_still_commits(spark, tmp_path,
                                                  monkeypatch):
    """A run() lists a consuming-* leftover, but another run() stages and
    removes it before this one opens it: the vanished claim is skipped,
    the fresh pending batch is still consumed and the round commits."""
    import builtins
    import os

    from distributed_web_crawler_spark.crawl import driver

    store = str(tmp_path / "store")
    seeds = seed_urls(SYNTH, 2)
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    extra = "http://h0007.example.com/p/3"
    enqueue_urls(store, [extra])
    leftover = os.path.join(store, "_control", "consuming-1-1")
    with open(leftover, "w") as fh:
        fh.write(json.dumps({"url": "http://h0008.example.com/p/1"}) + "\n")

    def open_after_other_process(path, *args, **kwargs):
        if path == leftover:
            os.remove(path)
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(driver, "open", open_after_other_process,
                        raising=False)
    stats = c.run(max_rounds=2)
    assert stats["rounds"] == 1
    assert c.store.last_round() == 2
    assert stats["per_round"][0]["injected"] == 1


def test_enqueue_urls_file_semantics(tmp_path):
    store = str(tmp_path / "s")
    assert enqueue_urls(store, ["http://a.example.com/"]) == 1
    assert enqueue_urls(store, ["http://b.example.com/",
                                "http://c.example.com/"]) == 2
    from distributed_web_crawler_spark.crawl.driver import (
        _take_pending_urls,
    )
    urls, taken = _take_pending_urls(store)
    assert urls == ["http://a.example.com/", "http://b.example.com/",
                    "http://c.example.com/"]
    assert len(taken) == 1
    # claimed: a fresh enqueue starts a new pending file; re-take sees
    # BOTH the unremoved claim and the new batch (crash-recovery shape)
    enqueue_urls(store, ["http://d.example.com/"])
    urls2, taken2 = _take_pending_urls(store)
    assert urls2 == urls + ["http://d.example.com/"]
    assert len(taken2) == 2


# -- the page index over the committed head --------------------------------


def _write_round(root, r, urls, stored, flat=False):
    """Stage one processed round the way the crawl lays it out:
    pages/round=r[/fetch_date=…]/part-*.parquet (payload included) and
    stored/round=r/part-*.parquet. No marker is written."""
    pages_dir = os.path.join(root, "tables", "pages", f"round={r}")
    if not flat:
        pages_dir = os.path.join(pages_dir, "fetch_date=2024-01-01")
    os.makedirs(pages_dir, exist_ok=True)
    n = len(urls)
    pq.write_table(pa.table({
        "url": urls,
        "host": [u.split("/")[2] for u in urls],
        "depth": pa.array([1] * n, pa.int32()),
        "http_status": pa.array([200] * n, pa.int32()),
        "bytes": [b"\x00payload"] * n,
        "links": [["http://z.example.com/", "http://a.example.com/"]] * n,
        "content_hash": [f"{i:064x}" for i in range(n)],
        "fetch_time_ms": pa.array([1_700_000_000_000 + r] * n, pa.int64()),
        "round": pa.array([r] * n, pa.int32()),
    }), os.path.join(pages_dir, "part-00000.parquet"))
    stored_dir = os.path.join(root, "tables", "stored", f"round={r}")
    os.makedirs(stored_dir, exist_ok=True)
    pq.write_table(pa.table({"url": stored,
                             "priority": pa.array([0] * len(stored),
                                                  pa.int32())}),
                   os.path.join(stored_dir, "part-00000.snappy.parquet"))
    open(os.path.join(stored_dir, "_SUCCESS"), "w").close()


def _commit(root, mark, counts=None):
    d = os.path.join(root, "_commits")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".round-{mark}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"round": mark, "round_processed": mark - 1,
                   "counts": counts}, fh)
    os.replace(tmp, os.path.join(d, f"round-{mark}.json"))


@pytest.fixture
def small_store(tmp_path):
    """A two-round store written without Spark: marker 0 (bootstrap),
    round 0 and round 1 processed and committed."""
    root = str(tmp_path / "small")
    _commit(root, 0)
    _write_round(root, 0, ["http://b.example.com/1", "http://a.example.com/2",
                           "http://c.example.com/3"],
                 ["http://b.example.com/1", "http://c.example.com/3"])
    _commit(root, 1, {"fetched": 3, "stored": 2})
    _write_round(root, 1, ["http://d.example.com/4"],
                 ["http://d.example.com/4"])
    _commit(root, 2, {"fetched": 1, "stored": 1})
    srv = serve(root)
    yield root, srv.server_address[1]
    srv.shutdown()
    srv.server_close()


def _urls(port, path):
    code, out = _req(port, "GET", path)
    assert code == 200, out
    return [p["url"] for p in out["pages"]]


@pytest.mark.parametrize("path", [
    "/api/data/pages?limit=-1",
    "/api/data/pages?offset=-3",
    "/api/data/pages?limit=abc",
    "/api/data/pages/search?query=example&limit=-2",
])
def test_bad_limit_or_offset_is_400(small_store, path):
    _root, port = small_store
    code, out = _req(port, "GET", path)
    assert code == 400 and out["status"] == "error"
    # the server keeps serving
    assert _urls(port, "/api/data/pages?limit=1") == [
        "http://b.example.com/1"]


def _raw_post(port, content_length):
    with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
        s.sendall(b"POST /api/crawler/urls HTTP/1.1\r\nHost: x\r\n"
                  b"Content-Length: " + content_length.encode()
                  + b"\r\n\r\n")
        return s.recv(4096).split(b"\r\n", 1)[0]


@pytest.mark.parametrize("content_length", ["abc", "-5"])
def test_bad_content_length_is_400(small_store, content_length):
    """A non-integer or negative Content-Length is the client's error
    (it used to surface as a 500 from int() or rfile.read)."""
    _root, port = small_store
    assert _raw_post(port, content_length).endswith(b" 400 Bad Request")


def test_reads_on_a_store_with_no_pages(tmp_path):
    """Before the first round commits (bootstrap marker only) every read
    endpoint answers with an empty result, search included."""
    root = str(tmp_path / "fresh")
    _commit(root, 0)
    srv = serve(root)
    try:
        port = srv.server_address[1]
        assert _urls(port, "/api/data/pages") == []
        assert _urls(port, "/api/data/pages/search?query=example") == []
        assert _req(port, "GET", "/api/data/pages/count")[1][
            "totalPages"] == 0
        code, out = _req(port, "GET", "/api/data/stats")
        assert code == 200 and out["statistics"]["totalPages"] == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_index_reads_only_committed_rounds(small_store):
    """pages ⋉ stored over committed rounds, in url order; a round whose
    dirs are staged but whose marker never committed is not served until
    it commits, and then without a restart."""
    root, port = small_store
    assert _urls(port, "/api/data/pages") == [
        "http://b.example.com/1", "http://c.example.com/3",
        "http://d.example.com/4"]
    _write_round(root, 2, ["http://e.example.com/5"],
                 ["http://e.example.com/5"])
    assert _req(port, "GET", "/api/data/pages/count")[1]["totalPages"] == 3
    assert _urls(port, "/api/data/pages/search?query=E.EXAMPLE") == []
    _commit(root, 3, {"fetched": 1, "stored": 1})
    assert _req(port, "GET", "/api/data/pages/count")[1]["totalPages"] == 4
    assert _urls(port, "/api/data/pages/search?query=E.EXAMPLE") == [
        "http://e.example.com/5"]
    assert _urls(port, "/api/data/pages?offset=3") == [
        "http://e.example.com/5"]


def test_index_rebuilds_when_the_store_is_replaced(small_store):
    """A head that moved backwards, or a head marker that is no longer the
    file indexed, rebuilds the index from scratch."""
    root, port = small_store
    assert _req(port, "GET", "/api/data/pages/count")[1]["totalPages"] == 3
    shutil.rmtree(root)
    _commit(root, 0)
    _write_round(root, 0, ["http://x.example.com/1"],
                 ["http://x.example.com/1"])
    _commit(root, 1)
    assert _urls(port, "/api/data/pages") == ["http://x.example.com/1"]
    shutil.rmtree(root)
    _commit(root, 0)
    _write_round(root, 0, ["http://y.example.com/1"],
                 ["http://y.example.com/1"])
    _commit(root, 1)  # same head number, new marker file
    assert _urls(port, "/api/data/pages") == ["http://y.example.com/1"]


def test_index_under_concurrent_reads_and_commits(small_store):
    """Eight reader threads against one StoreReader while rounds commit:
    no read fails, every count is one a committed head had, and no
    thread ever sees the count go back."""
    import sys
    import threading

    from distributed_web_crawler_spark.api.http_api import StoreReader

    root, _port = small_store
    reader = StoreReader(root)
    valid = {3}
    seen: list[list[int]] = [[] for _ in range(8)]
    errors: list[BaseException] = []
    done = threading.Event()

    def read(out):
        try:
            while not done.is_set():
                n = reader.count()
                assert len(reader.pages(n + 1, 0)) >= n
                out.append(n)
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=read, args=(out,)) for out in seen]
    try:
        for t in threads:
            t.start()
        for r in range(2, 8):
            _write_round(root, r, [f"http://n{r}.example.com/{i}"
                                   for i in range(3)],
                         [f"http://n{r}.example.com/{i}" for i in range(2)])
            _commit(root, r + 1)
            valid.add(3 + 2 * (r - 1))
    finally:
        done.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(out and set(out) <= valid and out == sorted(out)
               for out in seen)
    assert reader.count() == 15


def test_status_folds_only_new_markers(small_store, monkeypatch):
    """The long-lived fold agrees with a fresh crawl_status after further
    markers commit, opens only the markers it has not folded, and starts
    over when the store is replaced."""
    import builtins

    from distributed_web_crawler_spark.crawl import driver

    root, port = small_store
    status = CrawlStatus(root)
    assert status.read()["totals"] == {"fetched": 4, "stored": 3}
    _write_round(root, 2, ["http://e.example.com/5"],
                 ["http://e.example.com/5"])
    _commit(root, 3, {"fetched": 5, "stored": 1})
    opened = []

    def recording_open(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(driver, "open", recording_open, raising=False)
    live = status.read()
    assert [f for f in opened if f.startswith("round-")] == ["round-3.json"]
    monkeypatch.undo()
    fresh = crawl_status(root)
    assert live == fresh
    assert live["totals"] == {"fetched": 9, "stored": 4}
    assert live["last_round"]["round"] == 2
    _code, st = _req(port, "GET", "/api/crawler/status")
    assert st["totals"] == fresh["totals"]
    assert st["last_committed_marker"] == 3
    shutil.rmtree(root)
    _commit(root, 0)
    assert status.read() == crawl_status(root)
    assert status.read()["totals"] == {}


def test_flat_pages_round_reads(crawled, tmp_path):
    """A store committed by pre-date-partition code has a FLAT pages round
    dir (no fetch_date= layer) beside nested ones; the index reads both,
    and the page set still equals the engine's view."""
    c, store, _seeds, _port = crawled
    copy = str(tmp_path / "flat")
    shutil.copytree(store, copy)
    r0 = os.path.join(copy, "tables", "pages", "round=0")
    (inner,) = glob.glob(os.path.join(r0, "fetch_date=*"))
    for f in os.listdir(inner):
        shutil.move(os.path.join(inner, f), os.path.join(r0, f))
    os.rmdir(inner)
    srv = serve(copy)
    try:
        port = srv.server_address[1]
        expect = sorted(r["url"] for r in c.pages().select("url").collect())
        assert _urls(port, f"/api/data/pages?limit={len(expect) + 5}") \
            == expect
        assert _req(port, "GET", "/api/data/pages/count")[1] == {
            "status": "success", "totalPages": len(expect)}
    finally:
        srv.shutdown()
        srv.server_close()


def test_server_follows_new_commits_without_restart(spark, tmp_path):
    """A server started at round k serves round k+1's pages on /pages,
    /pages/count and /pages/search after the next run() commits, with
    parity to the engine's view, and its /status totals equal a fresh
    crawl_status."""
    store = str(tmp_path / "store")
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seed_urls(SYNTH, 3))
    c.run(max_rounds=1)
    srv = serve(store)
    try:
        port = srv.server_address[1]

        def check():
            expect = sorted(r["url"]
                            for r in c.pages().select("url").collect())
            assert _urls(port, "/api/data/pages?limit=1000") == expect
            assert _req(port, "GET", "/api/data/pages/count")[1][
                "totalPages"] == len(expect)
            assert _urls(port, "/api/data/pages/search?query=.EXAMPLE."
                         "&limit=1000") == expect
            _code, st = _req(port, "GET", "/api/crawler/status")
            fresh = crawl_status(store)
            assert st["totals"] == fresh["totals"]
            assert st["last_round"] == fresh["last_round"]
            return expect

        before = check()
        assert c.run(max_rounds=2)["rounds"] == 1
        after = check()
        assert set(before) < set(after)
        _code, out = _req(port, "GET", "/api/data/pages?limit=1000")
        assert {p["url"] for p in out["pages"]
                if p["metadata"]["round"] == "1"} == set(after) - set(before)
    finally:
        srv.shutdown()
        srv.server_close()
