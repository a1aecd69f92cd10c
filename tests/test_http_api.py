"""HTTP read/control API over a crawl store (api/http_api.py) — the
reference REST surface (DataController/CrawlerController) driven over
real sockets against a real store: pagination/search/count parity with
the engine's own Spark views, live status, graceful stop/start, and the
anytime-enqueue path consumed by the crawl loop with golden parity."""

import http.client
import json

import pytest

from distributed_web_crawler_spark.api.http_api import serve
from distributed_web_crawler_spark.config import (
    CrawlConfig,
    SynthWebConfig,
)
from distributed_web_crawler_spark.crawl.driver import (
    Crawler,
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
