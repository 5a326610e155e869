"""The workloads: set up a deployment the way the CLIs do, drive it over
HTTP in a closed loop, check every answer, and compute the metrics.

Set-up mirrors ``scripts/build_index.py --format warc`` (WARC dir ->
``warc_to_pages`` -> ``SearchEngine.build`` -> ``save``, plus the
url-hash shard loop of ``--blocked --shards 2``) followed by
``scripts/serve.py`` (``load`` + ``enable_serving`` + ``make_server``, or
``make_server(shard_paths=..., embeddings_path=...)``).
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import os
import statistics
import threading
import time

from . import inputs, oracle
from .trace import REQ_HEADER, Probes, Tracer, job_counts, self_time

WORKLOADS = ("query_served", "query_sharded")
PAGES = 200
TINY_PAGES = 40
K = 10
SHARDS = 2
WARMUP_S = 3
PAGERANK_ITERS = 5  # fixed iteration count: the traced PageRank probe does fixed work

END_TO_END = {
    "setup_s": "s",
    "qps": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "index_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "server.overhead_ms": "ms",
    "route.search.p50_ms": "ms",
    "route.hybrid.p50_ms": "ms",
    "route.phrase.p50_ms": "ms",
    "engine.construct_ms": "ms",
    "engine.construct_jobs": "count",
    "engine.fanout_ms": "ms",
    "engine.merge_ms": "ms",
    "engine.fuse_ms": "ms",
    "catalyst.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_req": "count",
    "spark.tasks_per_req": "count",
    "scan.rows_per_result": "ratio",
    "wand.topk_ms": "ms",
    "simsearch.cosine_topk_ms": "ms",
    "warc.extract_s": "s",
    "indexer.tokenize_s": "s",
    "indexer.postings": "count",
    "indexer.terms": "count",
    "compression.doc_numbering_s": "s",
    "compression.encode_write_s": "s",
    "compression.blocks": "count",
    "compression.bytes": "B",
    "engine.save_s": "s",
    "engine.build_tasks": "count",
    "pagerank.graph_s": "s",
    "pagerank.iterate_s": "s",
    "pagerank.jobs": "count",
    "trace.overhead_ratio": "ratio",
}


class Run:
    """Counts shared by the client threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.ids = itertools.count(1)

    def record(self, ok: bool, what: str) -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 5:
                    self.failures.append(what)


def send(port: int, req, expected, run: Run):
    """One checked request. Returns (request id, route, seconds, ok)."""
    rid = str(next(run.ids))
    t0 = time.perf_counter()
    ok, what = False, req.path
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("GET", req.path, headers={REQ_HEADER: rid})
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        dt = time.perf_counter() - t0
        if resp.status != 200:
            what = f"{req.path}: HTTP {resp.status} {body[:200]!r}"
        else:
            ok = oracle.check(req, expected[req.path], json.loads(body))
            what = f"{req.path}: wrong answer"
    except (OSError, ValueError, KeyError, TypeError) as exc:
        dt = time.perf_counter() - t0
        what = f"{req.path}: {type(exc).__name__}: {exc}"
    run.record(ok, what)
    return rid, req.route, dt, ok


def closed_loop(port, mix, expected, run, seconds, clients, sharded) -> dict:
    """``clients`` threads each send their next request when the last one
    returns, until ``seconds`` have passed."""
    samples: list = []
    lock = threading.Lock()
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(c):
        stream = inputs.request_stream(c, mix, sharded)
        while time.perf_counter() < deadline:
            s = send(port, next(stream), expected, run)
            with lock:
                samples.append(s)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return {"samples": samples, "elapsed": time.perf_counter() - t_start}


def pct(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the Spark JVM it started."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


class Deployment:
    """Set-up products: the built index, the reference, the server."""

    def __init__(self, spark, workload, seed, workdir, tiny):
        from google_like_search_engine_spark.corpus import fixture_dictionary
        from google_like_search_engine_spark.engine import SearchEngine
        from google_like_search_engine_spark.server import make_server
        from google_like_search_engine_spark.sources.warc import warc_to_pages
        from pyspark.sql import functions as F

        self.sharded = workload == "query_sharded"
        self.shard_paths: list = []
        self.warc_dir = os.path.join(workdir, "warc")
        parts = spark.sparkContext.defaultParallelism
        self.n_pages = TINY_PAGES if tiny else PAGES
        inputs.write_corpus(spark, self.n_pages, seed, self.warc_dir, parts)

        # scripts/build_index.py --format warc
        self.dictionary = fixture_dictionary()
        pages = warc_to_pages(spark, self.warc_dir, self.dictionary)
        t0 = time.perf_counter()
        eng = SearchEngine(spark).build(pages, run_pagerank=False, collect_metrics=True)
        self.build_s = time.perf_counter() - t0
        self.build_metrics = eng.build_metrics
        pdf = eng.postings.select("term", "url", "tf", "dl", "positions").toPandas()
        self.ref = oracle.Reference(pdf.itertuples(index=False, name=None))
        if self.sharded:
            # the url-hash shard loop of build_index.py --blocked --shards N
            # (the flat save is skipped: the sharded server never reads it)
            for i in range(SHARDS):
                se = SearchEngine(spark)
                se.postings = eng.postings.where(F.pmod(F.xxhash64("url"), F.lit(SHARDS)) == i)
                se.doc_stats = eng.doc_stats.where(F.pmod(F.xxhash64("url"), F.lit(SHARDS)) == i)
                path = os.path.join(workdir, "shards", f"s{i}")
                se.save_blocked(path)
                self.shard_paths.append(path)
            self.out_dirs = [os.path.join(workdir, "shards")]
            eng.unpersist()
            emb = os.path.join(workdir, "embeddings")
            self.ref.vectors = inputs.write_embeddings(self.ref.urls, seed, emb)
            # scripts/serve.py --shards ... --embeddings ...
            self.server = make_server(
                SearchEngine(spark), "127.0.0.1", 0, shard_paths=self.shard_paths,
                embeddings_path=emb,
            )
        else:
            index = os.path.join(workdir, "index")
            eng.save(index)
            self.out_dirs = [index]
            eng.unpersist()
            # scripts/serve.py --index ... (its default deployment)
            se = SearchEngine(spark).load(index)
            if not se.enable_serving():
                raise RuntimeError("served path refused: dictionary over DICT_CAP")
            self.server = make_server(se, "127.0.0.1", 0)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05}
        )
        self.thread.start()

    def build_ok(self) -> bool:
        """The build's counts agree with the reference's own counts."""
        m = self.build_metrics
        return (
            m["n_docs"] == self.ref.n_docs
            and m["n_terms"] == len(self.ref.df)
            and m["n_postings"] == self.ref.n_postings()
        )

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


def run_workload(spark, workload, seed, seconds, trace, workdir, t_start,
                 tiny=False, corrupt=False):
    """Set up ``workload``, drive it for ``seconds``, return (result, info)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    sc = spark.sparkContext
    tracer = Tracer() if trace else None
    probes = Probes(tracer, spark) if trace else None
    if trace:
        sc.setJobGroup("perfbench-setup", "setup")
        probes.install_build()
    run = Run()
    dep = Deployment(spark, workload, seed, workdir, tiny)
    try:
        mix = inputs.build_mix(seed, dep.ref, K, dep.sharded)
        expected = {r.path: dep.ref.expected(r) for r in mix}
        if corrupt:
            expected = {key: oracle.corrupt(v) for key, v in expected.items()}
        run.record(dep.build_ok(), "build counts differ from the reference")
        # warm-up inside set-up: the first request of each route pays lazy
        # handle loading (sidecars, url dictionaries, the embeddings
        # cache); the short loop after it lets the JIT reach the query path
        for route in dict.fromkeys(r.route for r in mix):
            send(dep.port, next(r for r in mix if r.route == route), expected, run)
        clients = os.cpu_count() or 1
        closed_loop(dep.port, mix, expected, run, WARMUP_S, clients, dep.sharded)
        setup_s = time.perf_counter() - t_start

        info = {
            "workload": workload,
            "seed": seed,
            "pages": dep.n_pages,
            "docs": dep.ref.n_docs,
            "terms": len(dep.ref.df),
            "postings": dep.ref.n_postings(),
            "distinct_requests": len(mix),
            "clients": clients,
            "loop": "closed",
            "build_s": dep.build_s,
            "warmup": "JVM start, input generation, index build, one checked request per "
                      f"route and a {WARMUP_S} s checked closed loop are inside setup_s; "
                      "the timed window starts warm",
        }
        if not trace:
            res = closed_loop(dep.port, mix, expected, run, seconds, clients, dep.sharded)
            lat = [s[2] * 1000 for s in res["samples"]]
            metrics = {
                "setup_s": setup_s,
                "qps": len(lat) / res["elapsed"],
                "latency_p50_ms": pct(lat, 0.5),
                "latency_p90_ms": pct(lat, 0.9),
                "index_bytes_per_doc": sum(du(d) for d in dep.out_dirs) / dep.ref.n_docs,
                "peak_rss_mb": peak_rss_mb(spark),
            }
            info["samples"] = len(lat)
            info["samples_beyond_p90"] = sum(1 for x in lat if x > metrics["latency_p90_ms"])
            units = END_TO_END
        else:
            metrics = traced_metrics(spark, dep, probes, tracer, mix, expected, run,
                                     seconds, clients, info)
            units = PER_LAYER
    finally:
        if probes:
            probes.remove()
        dep.stop()
    info["failures"] = run.failures
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }
    if trace:
        os.makedirs(os.path.join(workdir, "..", "traces"), exist_ok=True)
        tracer.dump(os.path.join(workdir, "..", "traces", f"{workload}-{seed}.json"))
    return result, info


def build_layers(spark, dep, run, info) -> dict:
    """Build-side layers, each run alone into a noop sink after set-up,
    plus the fixed-iteration PageRank over the same pages."""
    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings, docs_from_pages
    from google_like_search_engine_spark.pagerank import extract_edges, pagerank, vertices_from_pages
    from google_like_search_engine_spark.sources.warc import warc_to_pages

    sc = spark.sparkContext

    def noop(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {"warc.extract_s": noop(warc_to_pages(spark, dep.warc_dir, dep.dictionary))}
    pages = warc_to_pages(spark, dep.warc_dir, dep.dictionary).persist()
    pages.count()
    out["indexer.tokenize_s"] = noop(build_postings(docs_from_pages(pages)))

    t0 = time.perf_counter()
    edges = extract_edges(pages).persist()
    vertices = vertices_from_pages(pages).persist()
    n_edges, n_vertices = edges.count(), vertices.count()
    out["pagerank.graph_s"] = time.perf_counter() - t0
    sc.setJobGroup("perfbench-pagerank", "pagerank")
    t0 = time.perf_counter()
    ranks = pagerank(vertices, edges, max_iterations=PAGERANK_ITERS).collect()
    out["pagerank.iterate_s"] = time.perf_counter() - t0
    sc.setJobGroup("perfbench-setup", "setup")
    out["pagerank.jobs"] = job_counts(sc, "perfbench-pagerank")[0]
    run.record(
        len(ranks) == n_vertices == len({r["doc_id"] for r in ranks})
        and all(math.isfinite(r["rank"]) for r in ranks),
        "PageRank: not one finite rank per vertex",
    )
    info["edges"], info["vertices"] = n_edges, n_vertices
    for df in (pages, edges, vertices):
        df.unpersist()

    if dep.sharded:
        checker = SearchEngine(spark)
        for p in dep.shard_paths:
            rep = checker.fsck_blocked(p, deep=True)
            run.record(rep["ok"], f"fsck_blocked {p}: {rep['checks']}")
        info["shard_docs"] = [int(spark.read.parquet(f"{p}/meta").collect()[0]["total_documents"])
                              for p in dep.shard_paths]
        run.record(sum(info["shard_docs"]) == dep.ref.n_docs, "shard doc totals differ")
    return out


def blocks_count(paths: list) -> int:
    import pyarrow.parquet as pq

    n = 0
    for p in paths:
        for root, _dirs, files in os.walk(os.path.join(p, "blocks")):
            n += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                     for f in files if f.endswith(".parquet"))
    return n


def traced_metrics(spark, dep, probes, tracer, mix, expected, run, seconds, clients,
                   info) -> dict:
    """Per-layer metrics: build layers from set-up spans and noop-sink
    runs, request layers from a traced window that follows an untraced
    window of the same length (their p50 ratio is the tracing overhead)."""
    sc = spark.sparkContext
    m = build_layers(spark, dep, run, info)
    spans = list(tracer.spans)

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    shards = dep.shard_paths
    m.update({
        "indexer.postings": dep.build_metrics["n_postings"],
        "indexer.terms": dep.build_metrics["n_terms"],
        "compression.doc_numbering_s": total("compression.doc_numbering"),
        "compression.encode_write_s": total("compression.encode_write"),
        "compression.blocks": blocks_count(shards),
        "compression.bytes": sum(du(os.path.join(p, "blocks")) for p in shards),
        "engine.save_s": total("engine.save"),
        "engine.build_tasks": job_counts(sc, "perfbench-build")[1],
    })

    half = max(1.0, seconds / 2)
    plain = closed_loop(dep.port, mix, expected, run, half, clients, dep.sharded)
    probes.install_requests(dep.server)
    traced = closed_loop(dep.port, mix, expected, run, half, clients, dep.sharded)
    p50_plain = statistics.median(s[2] for s in plain["samples"])
    p50_traced = statistics.median(s[2] for s in traced["samples"])
    m["trace.overhead_ratio"] = p50_traced / p50_plain
    m.update(request_layers(sc, tracer, traced["samples"]))
    info["samples"] = len(plain["samples"]) + len(traced["samples"])
    return m


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def request_layers(sc, tracer, samples) -> dict:
    spans = list(tracer.spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    by_req: dict = {}
    for s in spans:
        if s.req is not None and s.name == "server.request":
            by_req[s.req] = s
    client_ms = {rid: dt * 1000 for rid, _route, dt, _ok in samples}

    overhead, construct, plan, execute, jobs, tasks, cjobs, ratio = ([] for _ in range(8))
    for rid, req_span in by_req.items():
        if rid not in client_ms:
            continue
        top = kids.get(req_span.id, [])
        entry = [s for s in top if s.name.startswith("engine.")]
        plans = [s for s in top if s.name == "catalyst.plan"]
        execs = [s for s in top if s.name == "spark.exec"]
        inside = sum(s.end - s.start for s in entry + plans + execs) * 1000
        overhead.append(client_ms[rid] - inside)
        construct += [(s.end - s.start) * 1000 for s in entry]
        plan += [(s.end - s.start) * 1000 for s in plans]
        execute += [(s.end - s.start) * 1000 for s in execs]
        cj, _ct = job_counts(sc, f"perfbench-{rid}-c")
        xj, xt = job_counts(sc, f"perfbench-{rid}-x")
        jobs.append(cj + xj)
        tasks.append(_ct + xt)
        cjobs.append(cj)
        rows = sum(s.attrs.get("rows", 0) for s in execs)
        scanned = sum(s.attrs.get("scan_rows", 0) for s in spans
                      if s.req == rid and s.name == "spark.exec")
        if rows:
            ratio.append(scanned / rows)

    def durations(name):
        return [(s.end - s.start) * 1000 for s in spans if s.name == name and s.end]

    merge, fuse = [], []
    for s in spans:
        if s.name == "engine.search_bm25_sharded":
            shard_calls = [c for c in kids.get(s.id, []) if c.name == "wand.topk"]
            slowest = max((c.end - c.start for c in shard_calls), default=0.0)
            merge.append((s.end - s.start - slowest) * 1000)
        elif s.name == "engine.search_hybrid_rrf":
            fuse.append(self_time(s, kids.get(s.id, [])) * 1000)

    routes = {}
    for route in ("search", "hybrid", "phrase"):
        routes[f"route.{route}.p50_ms"] = _med(
            dt * 1000 for _rid, r, dt, _ok in samples if r == route
        )
    return {
        "server.overhead_ms": _med(overhead),
        **routes,
        "engine.construct_ms": _med(construct),
        "engine.construct_jobs": statistics.fmean(cjobs) if cjobs else 0.0,
        "engine.fanout_ms": _med(durations("engine.search_bm25_sharded")),
        "engine.merge_ms": _med(merge),
        "engine.fuse_ms": _med(fuse),
        "catalyst.plan_ms": _med(plan),
        "spark.exec_ms": _med(execute),
        "spark.jobs_per_req": statistics.fmean(jobs) if jobs else 0.0,
        "spark.tasks_per_req": statistics.fmean(tasks) if tasks else 0.0,
        "scan.rows_per_result": statistics.fmean(ratio) if ratio else 0.0,
        "wand.topk_ms": _med(durations("wand.topk")),
        "simsearch.cosine_topk_ms": _med(durations("simsearch.cosine_topk")),
    }
