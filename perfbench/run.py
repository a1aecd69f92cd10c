"""Crawl-path benchmark: drives ``Crawler`` and the HTTP API from outside
the program and prints one JSON result line.

    python3 perfbench/run.py --workload serve_during_crawl --seed 1 \\
        --seconds 15 --trace 0

Runs from any working directory; all scratch data (stores, Spark local
dirs, temp files) lives under ``.perfbench_work/`` in the repository
checkout and is removed when the run ends, except the per-seed record of
counts that must repeat exactly (``.perfbench_work/expect.json``).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` runs the same crawl with span wrappers and a logging fetcher, steps an
untraced twin crawl round for round beside it, and prints the per-layer
metrics plus the tracing overhead (twin minus traced crawl_urls_per_s).
The last stdout line is the result; the line before it records the box
(nproc, memory, CPU probe), set-up phases, the error rate and, untraced,
the API's closed-loop capacity the offered rate is a share of.

Seed 7919 is held out: claims of a gain are re-checked on it, never tuned
on it.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


# set-up is timed from process start: interpreter start-up plus imports
T_PROCESS = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.stats import median, percentile, tail_percentile  # noqa: E402

HELD_OUT_SEED = 7919
MAX_CORES = 4
BOOTSTRAPS = 3       # set-up repeats per run; setup_s uses the median
FAILED_LATENCY_MS = 10_000.0  # a failed request misses any latency limit
CAPACITY_S = 1.5     # closed-loop API capacity probe after the crawl
STORE_TABLES = ("frontier", "robots", "stored", "bloom", "hash_bloom",
                "lineage")


def _prepare_env(work: str, cores: int) -> None:
    """Everything the JVM and the Arrow workers inherit: the package on
    the workers' path, scratch dirs inside the checkout, a driver heap
    sized to this box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = probes.driver_mem(
        probes.phys_mem_mb())


def _spark(work: str, cores: int):
    from distributed_web_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        import subprocess

        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Api:
    """The HTTP API serving one store, with its open-loop generator."""

    def __init__(self, root: str, wl, seed: int):
        from distributed_web_crawler_spark.api.http_api import serve

        self.srv = serve(root, 0)
        self.port = self.srv.server_address[1]
        self.wl = wl
        self.seed = seed
        self.gen = None

    def start_load(self):
        from perfbench.loadgen import OpenLoop
        from perfbench.workloads import API_RATE

        self.gen = OpenLoop(self.port, API_RATE, self.seed,
                            self.wl.search_terms,
                            make_urls=(self.wl.make_urls if self.wl.writes
                                       else None))
        self.gen.start()
        return self.gen

    def stop_load(self) -> None:
        if self.gen is not None:
            self.gen.stop()

    def get(self, path: str):
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=30)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def close(self) -> None:
        self.stop_load()
        self.srv.shutdown()
        self.srv.server_close()


def _latencies_ms(results) -> tuple[list[float], int]:
    lat, failed = [], 0
    for r in results:
        ok = r.get("status") is not None and 200 <= r["status"] < 300
        if not ok:
            failed += 1
            lat.append(FAILED_LATENCY_MS)
        else:
            lat.append((r["done"] - r["due"]) * 1e3)
    return lat, failed


def _crawl_summary(recs) -> dict:
    wall = sum(r["wall"] for r in recs)
    fetched = sum(r["counts"].get("fetched", 0) for r in recs)
    polled = sum(r["counts"].get("polled", 0) for r in recs)
    return {"rounds": len(recs), "wall": wall, "fetched": fetched,
            "polled": polled,
            "urls_per_s": fetched / wall if wall else 0.0,
            "rows_per_s": polled / wall if wall else 0.0,
            "round_s_p50": median([r["sec"] for r in recs])}


def _crawler(spark, wl, root: str, fetcher=None):
    from distributed_web_crawler_spark.crawl.driver import Crawler

    return Crawler(spark, wl.cfg, wl.synth, root, fetcher=fetcher)


def _checks(crawler, wl, recs, api, acked, expect_path, key) -> list[str]:
    from perfbench import workloads as W

    root = crawler.store.root
    bad = W.check_conservation(recs)
    stored_total = sum(r["counts"].get("stored", 0) for r in recs)
    status, body = api.get("/api/data/pages/count")
    if status != 200 or body.get("totalPages") != stored_total:
        bad.append(f"/pages/count {body.get('totalPages')} != stored "
                   f"total {stored_total}")
    bad += W.sample_content(root, wl)
    if wl.golden:
        bad += W.check_golden(crawler, wl, recs)
    else:
        bad += W.check_repeat(expect_path, key,
                              [r["counts"] for r in recs])
    if wl.writes:
        bad += W.check_enqueues(root, wl.cfg, acked)
    return bad


def run(args) -> tuple[dict, list[str], int, int, dict]:
    cores = min(MAX_CORES, probes.usable_cores())
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, cores)
    expect_path = os.path.join(ROOT, ".perfbench_work", "expect.json")

    from perfbench import workloads as W

    wl = W.make_workload(args.workload, args.seed, cores)
    problems: list[str] = []
    attempted = failed = 0
    info: dict = {"workload": wl.name, "seed": args.seed,
                  "held_out_seed": HELD_OUT_SEED}
    sampler = probes.MemSampler()
    try:
        with sampler:
            spark = _spark(work, cores)
            session_s = time.perf_counter() - T_PROCESS
            sampler.attach_jvm(spark.sparkContext._jvm)
            # set-up, repeated: bootstrap fresh stores; the median keeps
            # one-off JIT warm-up out of the figure but any work moved
            # into bootstrap shows in full
            boots, roots = [], []
            for i in range(BOOTSTRAPS):
                root = os.path.join(work, f"store{i}")
                t = time.perf_counter()
                _crawler(spark, wl, root).bootstrap(wl.seeds)
                boots.append(time.perf_counter() - t)
                roots.append(root)
            t = time.perf_counter()
            api = Api(roots[-1], wl, args.seed)
            api_start_s = time.perf_counter() - t
            setup_s = session_s + median(boots) + api_start_s
            info["setup"] = {"session_s": session_s, "bootstrap_s": boots,
                             "api_start_s": api_start_s}
            t_work = time.perf_counter()
            try:
                if args.trace:
                    metrics, a, f, bad = _traced(spark, wl, roots, api,
                                                 args, work, expect_path,
                                                 cores, info)
                else:
                    metrics, a, f, bad = _untraced(spark, wl, roots[-1],
                                                   api, args, expect_path,
                                                   info)
                attempted += a
                failed += f
                problems += bad
            finally:
                api.close()
            t_stop = time.perf_counter()
            sampler.detach_jvm()
            _stop_spark(spark)
        info["phase_s"] = {"setup": t_work - T_PROCESS,
                           "workload_and_checks": t_stop - t_work,
                           "stop": time.perf_counter() - t_stop}
        if sampler.error:
            problems.append(f"memory sampler stopped: {sampler.error}")
        if not args.trace:
            metrics["setup_s"] = (setup_s, "s")
            metrics["peak_rss_mb"] = (sampler.peak_mb, "MB")
        info["mem_at_peak_mb"] = {k: round(v) for k, v in
                                  sampler.at_peak.items()}
        info["java_pss_peak_mb"] = round(sampler.java_pss_peak_mb)
        info["machine"] = probes.machine_facts(cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return metrics, problems, attempted, failed, info


def _api_metrics(gen) -> tuple[dict, int, int, dict, list[str]]:
    """Median and p90 latency from due time. The tail is fixed at p90 so
    its name never changes: it is the highest percentile that keeps ten
    samples beyond it on every run (200-450 samples; a one-round
    fetch_heavy run on a fast box gets about 200, the edge for p95).
    Fewer than 100 samples fail the run."""
    lat, failed = _latencies_ms(gen.completed())
    n = len(lat)
    p = tail_percentile(n)
    info = {"api_samples": n, "api_tail_percentile": p,
            "api_rate": gen.rate}
    if p is None or p < 90.0:
        return {}, n, failed, info, [
            f"only {n} API samples: too few for a p90 with ten beyond it"]
    return ({"api_ms_p50": (percentile(lat, 50), "ms"),
             "api_ms_p90": (percentile(lat, 90), "ms")},
            n, failed, info, [])


def _untraced(spark, wl, root, api, args, expect_path, info):
    from perfbench import workloads as W

    crawler = _crawler(spark, wl, root)
    gen = api.start_load()
    recs, errors = W.timed_crawl(crawler, args.seconds, gen,
                                 min_rounds=wl.min_rounds)
    api.stop_load()
    # what the offered rate is a share of: the API's closed-loop capacity
    # on the store the crawl left, with the crawl idle
    cap = gen.capacity(CAPACITY_S)
    info["api_capacity_rps"] = cap
    info["api_utilisation"] = gen.rate / cap if cap else None
    problems = list(errors)
    if not recs:
        return {}, 1, 1, problems + ["no round completed"]
    s = _crawl_summary(recs)
    problems += _checks(crawler, wl, recs, api, gen.acked_urls,
                        expect_path, f"{wl.fingerprint()}:lineage")
    api_m, n_api, api_failed, api_info, api_bad = _api_metrics(gen)
    problems += api_bad
    info.update(api_info)
    info["crawl"] = s
    attempted = len(recs) + len(errors) + n_api
    failed = len(errors) + api_failed
    info["error_rate"] = failed / attempted
    metrics = {
        "crawl_urls_per_s": (s["urls_per_s"], "1/s"),
        "round_s_p50": (s["round_s_p50"], "s"),
        "frontier_rows_per_s": (s["rows_per_s"], "1/s"),
        **api_m,
    }
    return metrics, attempted, failed, problems


def _traced(spark, wl, roots, api, args, work, expect_path, cores, info):
    """Traced crawl with an untraced twin on another store, stepped round
    for round in the same process, then the training manifest over the
    traced store. The twin gives the tracing overhead; which of a pair
    runs first alternates (twin first on odd rounds), so first-run
    warm-up of each round's plan shapes falls on both sides."""
    import contextlib

    from distributed_web_crawler_spark.operators.extract import (
        make_synth_fetcher,
    )
    from perfbench import spans as S
    from perfbench import workloads as W
    from perfbench.loadgen import MIX_CYCLE
    from perfbench.stats import open_loop_lateness, self_time

    rec = S.SpanRecorder()
    rec.enabled = False
    log_dir = os.path.join(work, "fetchlog")
    os.makedirs(log_dir)
    crawler = _crawler(spark, wl, roots[-1],
                       fetcher=S.traced_fetcher(make_synth_fetcher(wl.synth),
                                                log_dir))
    twin = _crawler(spark, wl, roots[-2])
    twin_recs: list[dict] = []
    twin_errors: list[str] = []
    tables = os.path.join(roots[-1], "tables")
    bytes0 = probes.dir_bytes(tables)
    round_spans: list[dict] = []
    d = {}  # Spark counter deltas summed over traced rounds only

    def twin_round():
        more, errs = W.timed_crawl(twin, 0.0, rounds=1)
        twin_recs.extend(more)
        twin_errors.extend(errs)

    @contextlib.contextmanager
    def traced_round(r):
        if r % 2:
            twin_round()
        c0 = probes.spark_counters(spark)
        rec.enabled = True
        try:
            with rec.span("driver.round") as sp:
                rec.root = sp["id"]
                yield
        finally:
            rec.root = None
            rec.enabled = False
        round_spans.append(sp)
        for k, v in probes.counters_delta(
                c0, probes.spark_counters(spark)).items():
            d[k] = d.get(k, 0) + v

    def twin_after():
        if len(round_spans) % 2:  # the traced round just run was even
            twin_round()

    gen = api.start_load()
    with S.patched_layers(rec, type(spark.range(0))):
        recs, errors = W.timed_crawl(crawler, args.seconds, gen,
                                     min_rounds=wl.min_rounds,
                                     on_round=traced_round,
                                     after_round=twin_after)
    api.stop_load()
    problems = errors + twin_errors
    if not recs:
        return {}, 1, 1, problems + ["no round completed"]
    n = len(recs)
    s = _crawl_summary(recs)
    problems += _checks(crawler, wl, recs, api, gen.acked_urls,
                        expect_path, f"{wl.fingerprint()}:lineage")
    bytes_written = probes.dir_bytes(tables) - bytes0
    outlinks = W.outlinks_of_stored(roots[-1])
    fetch = S.read_fetch_logs(log_dir)
    s_un = _crawl_summary(twin_recs) if twin_recs else s

    # training manifest over the traced store
    m0 = probes.spark_counters(spark)
    t = time.perf_counter()
    manifest = crawler.training_manifest()
    rows_out = manifest.count() if manifest is not None else 0
    manifest_s = time.perf_counter() - t
    md = probes.counters_delta(m0, probes.spark_counters(spark))
    pages = crawler.pages()
    images_in = (pages.select("image_id").distinct().count()
                 if pages is not None else 0)
    problems += W.check_repeat(expect_path,
                               f"{wl.fingerprint()}:{n}:manifest_rows",
                               rows_out)

    # -- per-layer metrics -------------------------------------------------
    def per_round(name_prefix: str) -> list[float]:
        out = []
        for sp in round_spans:
            out.append(sum(x["end"] - x["start"] for x in rec.spans
                           if x["end"] is not None
                           and x["name"].startswith(name_prefix)
                           and sp["start"] <= x["start"] <= sp["end"]))
        return out

    def stage(name: str) -> float:
        return median([r["stage_sec"].get(name, 0.0) for r in recs])

    def total(metric: str) -> int:
        return sum(r["counts"].get(metric, 0) for r in recs)

    barrier = []
    phase_b = []
    for sp in round_spans:
        kids = [(c["start"], c["end"]) for c in rec.children(sp["id"])]
        barrier.append(self_time((sp["start"], sp["end"]), kids))
        fin = [x for x in rec.named("round.finish_round")
               if sp["start"] <= x["start"] <= sp["end"]]
        com = [x for x in rec.named("store.commit")
               if sp["start"] <= x["start"] <= sp["end"]]
        if fin and com:
            phase_b.append(com[-1]["end"] - fin[0]["start"])
    mb = 1 << 20
    fetched, polled = total("fetched"), total("polled")
    m = {
        "driver.state_s": (stage("state"), "s"),
        "driver.barrier_s": (median(barrier), "s"),
        "driver.spark_jobs_per_round": (d["jobs"] / n, "count"),
        "round.build_fetch_s": (median(per_round("round.build_fetch")), "s"),
        "round.finish_round_s": (median(phase_b) if phase_b else 0.0, "s"),
        "extract.fetch_busy_s": (fetch["busy_s"] / n, "s"),
        "extract.fetch_rows": (fetch["rows"] / n, "count"),
        "extract.payload_mb": (fetch["bytes"] / mb / n, "MB"),
        "extract.fetch_ok_ratio": (fetch["ok"] / max(1, fetch["rows"]),
                                   "ratio"),
        "politeness.polled_rows": (polled / n, "count"),
        "politeness.deferred_rows": (total("deferred") / n, "count"),
        "politeness.select_ratio": (fetched / max(1, polled), "ratio"),
        "robots.robots_s": (stage("robots"), "s"),
        "driver.evict_s": (stage("evict"), "s"),
        "dedup.bloom_s": (stage("bloom"), "s"),
        "dedup.hash_bloom_s": (stage("hash_bloom"), "s"),
        "dedup.new_url_ratio": (total("discovered") / max(1, outlinks),
                                "ratio"),
        "dedup.stored_ratio": (total("stored") / max(1, fetched), "ratio"),
        "store.read_s": (median(per_round("store.read")), "s"),
        "store.commit_s": (median(per_round("store.commit")), "s"),
        "store.bytes_written_mb": (bytes_written / mb / n, "MB"),
        "spark.shuffle_write_mb": (d["shuffle_write"] / mb / n, "MB"),
        "spark.shuffle_read_mb": (d["shuffle_read"] / mb / n, "MB"),
        "spark.task_busy_share": (d["run_ms"] / 1e3 / (s["wall"] * cores),
                                  "ratio"),
        "manifest.manifest_s": (manifest_s, "s"),
        "manifest.images_in": (images_in, "count"),
        "manifest.rows_out": (rows_out, "count"),
        "manifest.shuffle_mb": ((md["shuffle_write"] + md["shuffle_read"])
                                / mb, "MB"),
        "trace.overhead_urls_per_s": (s_un["urls_per_s"]
                                      - s["urls_per_s"], "1/s"),
    }
    for t_name in STORE_TABLES:
        m[f"store.write_s.{t_name}"] = (
            median(per_round(f"store.write.{t_name}")), "s")
    results = gen.completed()
    for ep in dict.fromkeys(MIX_CYCLE):
        lat, _ = _latencies_ms([r for r in results if r["endpoint"] == ep])
        m[f"api.{ep}_ms_p50"] = (percentile(lat, 50) if lat else 0.0, "ms")
        m[f"api.{ep}_ms_p90"] = (percentile(lat, 90) if lat else 0.0, "ms")
    lag = open_loop_lateness([r["due"] for r in gen.results],
                             [r["sent"] for r in gen.results])
    m["api.generator_lag_ms_max"] = (max(lag) * 1e3 if lag else 0.0, "ms")
    lat, api_failed = _latencies_ms(results)
    info["crawl"] = s
    info["untraced_twin"] = s_un
    attempted = (n + len(errors) + len(twin_recs) + len(twin_errors)
                 + len(lat))
    failed = len(errors) + len(twin_errors) + api_failed
    info["error_rate"] = failed / max(1, attempted)
    return m, attempted, failed, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "distributed_web_crawler_spark")):
        print("perfbench: distributed_web_crawler_spark package not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    metrics, problems, attempted, failed, info = run(args)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    info["problems"] = problems
    print(json.dumps({"perfbench_run": info}, default=str))
    print(json.dumps({
        "correct": not problems and bool(metrics),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
