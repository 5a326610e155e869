"""HTTP serving surface: the reference's search frontend, Spark-backed.

The reference serves ``GET /search?query=...`` from a hand-rolled
webserver (RankerStarter.java:81-98, webserver/, frontend/); this
module is the equivalent long-lived endpoint over a built
``SearchEngine``. The Spark driver hosts the HTTP threads; queries run
on the pinned serving state (engine.enable_serving's single-job BM25
plan) so a request is one Spark job.

Routes:
  GET /                                            HTML search page
  GET /search?query=...&k=10[&scorer=bm25|tfidf]   ranked results (JSON)
  GET /autocomplete?prefix=...&k=10                dictionary prefix scan
  GET /suggest?q=...&k=3                           did-you-mean (levenshtein)
  GET /boolean?query=a+AND+(b+OR+c)+AND+NOT+d&k=…  boolean retrieval
  GET /hybrid?query=...&qurl=<url>&k=10            RRF lexical+vector fusion
  GET /metrics                                     per-route counters + p50/p95
  GET /health                                      liveness + corpus size

The / page is the analog of the reference's frontend
(frontend/EntryPage.html + ResultsPage.js): a search box with
dictionary autocomplete and a ranked result list, talking to the JSON
routes above.

Run: ``python scripts/serve.py --index <dir> --port 8080``.
"""

from __future__ import annotations

import json
from array import array
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

ENTRY_PAGE = """<!doctype html>
<html><head><meta charset="utf-8"><title>spark search</title>
<style>
 body{font-family:sans-serif;max-width:48rem;margin:3rem auto;padding:0 1rem}
 #q{width:70%;font-size:1.1rem;padding:.4rem}
 button{font-size:1.1rem;padding:.4rem .8rem}
 #suggest{color:#666;font-size:.9rem;min-height:1.2rem}
 li{margin:.3rem 0} .score{color:#999;font-size:.85rem;margin-left:.5rem}
</style></head><body>
<h1>spark search</h1>
<form id="f"><input id="q" autocomplete="off" autofocus
 placeholder='query  |  +req -excl  |  &quot;exact phrase&quot;  |  a NEAR/5 b  |  a AND (b OR c) NOT d'>
<button>Search</button></form>
<div id="suggest"></div><ol id="results"></ol>
<script>
const q=document.getElementById('q'),s=document.getElementById('suggest'),
      res=document.getElementById('results');
q.addEventListener('input',async()=>{
  const last=q.value.split(/\\s+/).pop();
  if(!last){s.textContent='';return}
  const r=await fetch('/autocomplete?prefix='+encodeURIComponent(last)+'&k=5');
  if(!r.ok)return; const js=await r.json();
  s.textContent=js.completions.map(c=>c.term).join('  ');
});
document.getElementById('f').addEventListener('submit',async ev=>{
  ev.preventDefault(); res.innerHTML='';
  const raw=q.value.trim();
  // "quoted phrase" -> /phrase; a NEAR/5 b c -> /proximity;
  // else +term requires, -term excludes, the rest is the scored query
  const near=raw.match(/^(\\S+)\\s+NEAR\\/(\\d+)\\s+(.+)$/i);
  const isBool=/(^|[\\s(])(AND|OR|NOT)([\\s(]|$)/.test(raw);
  let url;
  if(raw.length>1&&raw[0]=='"'&&raw.endsWith('"')){
    url='/phrase?query='+encodeURIComponent(raw.slice(1,-1))+'&k=20';
  }else if(isBool&&!near){
    url='/boolean?query='+encodeURIComponent(raw)+'&k=20';
  }else if(near){
    const terms=[near[1]].concat(near[3].split(/\\s+/)).join(',');
    url='/proximity?terms='+encodeURIComponent(terms)+'&window='+near[2]+'&k=20';
  }else{
    const words=raw.split(/\\s+/).filter(Boolean);
    const req=words.filter(w=>w[0]=='+').map(w=>w.slice(1));
    const exc=words.filter(w=>w[0]=='-').map(w=>w.slice(1));
    const plain=words.filter(w=>w[0]!='+'&&w[0]!='-');
    url='/search?query='+encodeURIComponent(plain.join(' '))+'&k=20';
    if(req.length)url+='&required='+encodeURIComponent(req.join(','));
    if(exc.length)url+='&excluded='+encodeURIComponent(exc.join(','));
  }
  const r=await fetch(url);
  const js=await r.json();
  if(js.error){s.textContent=js.error;return}
  if(!(js.results||[]).length){
    // no hits: offer did-you-mean corrections for each query word
    const words=raw.replace(/["]/g,'').split(/\\s+/).filter(Boolean)
      .map(w=>w.replace(/^[+-]/,''));
    const fixes=[];
    for(const w of words){
      const sr=await fetch('/suggest?q='+encodeURIComponent(w)+'&k=1');
      if(!sr.ok)continue; const sj=await sr.json();
      const best=(sj.suggestions||[])[0];
      if(best&&best.term!=w.toLowerCase())fixes.push(best.term);
    }
    s.textContent=fixes.length?'did you mean: '+fixes.join(' '):'no results';
    return;
  }
  for(const row of (js.results||[])){
    const li=document.createElement('li');
    const u2=(typeof row=='string')?row:row.url;  // /boolean: bare urls
    const a=document.createElement('a'); a.href=u2; a.textContent=u2;
    const sc=document.createElement('span'); sc.className='score';
    sc.textContent=(typeof row=='string')?''
      :(row.score!=null?row.score.toFixed(4)
      :(row.n_occurrences!=null?row.n_occurrences:row.n_matches)+'\\u00d7');
    li.append(a,sc); res.append(li);
  }
});
</script></body></html>
"""


def make_server(
    engine,
    host: str = "127.0.0.1",
    port: int = 8080,
    blocked_path: str | None = None,
    cache_size: int = 0,
    shard_paths: list | None = None,
    embeddings_path: str | None = None,
    versioned_root: str | None = None,
    initial_snapshot: str | None = None,
    blocked_external: bool = False,
    percolator: dict | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; caller runs serve_forever().

    With ``blocked_path`` (a save_blocked dir, served as a one-shard
    deployment), four more routes open up over the compressed store:
      GET /phrase?query=a+b&k=10           exact phrase counts
      GET /proximity?terms=a,b&window=5    all terms near each anchor
      GET /threshold?query=a+b&threshold=1.5  all docs scoring >= cutoff
      GET /stats                           metadata-only index report

    With ``shard_paths`` (a list of save_blocked dirs), /search
    scatter-gathers over the shards with global stats recombined
    (engine.search_bm25_sharded) instead of the flat/served paths —
    point the server at a sharded deployment with no flat index loaded
    at all.

    With ``versioned_root`` (a save_versioned table), GET
    /admin/reload[?version=N] hot-swaps the serving index to the
    newest (or requested) committed snapshot with zero downtime: a
    fresh engine loads the snapshot on the serving session, the
    (engine, blocked_path) pair swaps atomically, the response cache
    clears, and in-flight requests finish on the old snapshot — the
    publish step of a serving fleet, without a restart.

    ``cache_size`` > 0 enables an LRU cache of that many responses on
    the deterministic query routes (an index is immutable between
    server restarts, so a repeated query is a dictionary hit instead
    of a Spark job); /health, /metrics and /stats are never cached.
    """
    # Bind all request handling to a DEDICATED serving SparkSession
    # (engine.serving_clone): same SparkContext + shared cache, its own
    # SQL conf with the low-latency settings applied once. Requests
    # never mutate shared session conf, so overlapping requests under
    # ThreadingHTTPServer need no lock, and batch work on the caller's
    # engine keeps its batch conf. (Earlier rounds toggled the shared
    # session's conf per request under a lock — the lock serialized all
    # query execution; the clone removes both.)
    engine = engine.serving_clone()

    # the active serving view: ONE reference swapped atomically by
    # /admin/reload so a request never sees a new engine with an old
    # blocked path (or vice versa). initial_snapshot seeds the snapshot
    # token so a reload with no new publish is a true no-op. After a
    # reload, positional routes keep serving ONLY an EXPLICITLY
    # operator-supplied blocked dir (blocked_external=True — the
    # operator owns its freshness by contract); an auto-derived
    # <snapshot>/blocked is version-scoped, so falling back to the old
    # snapshot's would silently skew /phrase vs /search across
    # versions — those routes disable instead until the new snapshot
    # ships its own blocked dir.
    initial_blocked = blocked_path if blocked_external else None
    state = {"active": (engine, blocked_path, initial_snapshot)}

    # per-route request counters + latency samples (bounded ring), the
    # minimum observability a serving deployment scrapes; counters are
    # mutated under a lock (handler threads overlap) but requests never
    # block each other on Spark work
    import threading

    metrics_lock = threading.Lock()
    metrics: dict = {"routes": {}, "errors": 0, "cache_hits": 0}
    _LAT_KEEP = 1024
    # arbitrary 404 paths bucket to "other" — a scanner must not grow
    # the route table (and driver memory) without bound
    _KNOWN_ROUTES = {
        "/", "/health", "/metrics", "/search", "/autocomplete",
        "/suggest", "/boolean", "/stats", "/phrase", "/proximity",
        "/threshold", "/hybrid", "/admin/reload", "/percolate",
    }

    # stored standing queries for /percolate, parsed ONCE at server
    # build — matching an arriving document is then a driver-side
    # set-membership walk (functions.library.eval_boolean), no Spark
    # job at all: the ingest-side alerting hot path
    _percolator_asts = None
    if percolator:
        from .functions.library import parse_boolean_query

        _percolator_asts = {
            qid: parse_boolean_query(q) for qid, q in sorted(percolator.items())
        }

    # lazily-loaded, pinned embeddings relation for /hybrid (the
    # vector retriever's input) and, while the vectors hold at most
    # URL_DICT_CAP * 16 elements in all (32 MB as packed doubles), a
    # driver-side {url: array('d')} map for the qurl point read (the
    # url_dict stand-in for the reference's KVS get); loaded once under
    # a lock — requests after the first reuse both
    emb_lock = threading.Lock()
    emb_state: dict = {"df": None, "vectors": None}

    def _emb_df():
        from pyspark.sql import functions as F

        with emb_lock:
            if emb_state["df"] is None:
                df = engine.spark.read.parquet(embeddings_path).persist()
                # one job: materializes the cache and sizes the map
                elems = df.agg(F.sum(F.size("embedding"))).collect()[0][0]
                if (elems or 0) <= engine.URL_DICT_CAP * 16:
                    vectors: dict = {}
                    for url, vec in df.select("url", "embedding").collect():
                        if url not in vectors:
                            vectors[url] = None if vec is None else array("d", vec)
                    emb_state["vectors"] = vectors
                emb_state["df"] = df
            return emb_state["df"], emb_state["vectors"]

    from collections import OrderedDict

    cache_lock = threading.Lock()
    cache: OrderedDict = OrderedDict()
    reload_lock = threading.Lock()
    _CACHEABLE = {
        "/search", "/autocomplete", "/suggest", "/boolean",
        "/phrase", "/proximity", "/threshold", "/hybrid",
    }

    def _cache_get(key):
        with cache_lock:
            if key in cache:
                cache.move_to_end(key)
                return cache[key]
        return None

    def _cache_put(key, val) -> None:
        with cache_lock:
            cache[key] = val
            while len(cache) > cache_size:
                cache.popitem(last=False)

    def _record(route: str, ms: float, ok: bool) -> None:
        if route not in _KNOWN_ROUTES:
            route = "other"
        with metrics_lock:
            r = metrics["routes"].setdefault(
                route, {"requests": 0, "lat_ms": []}
            )
            r["requests"] += 1
            lat = r["lat_ms"]
            lat.append(ms)
            if len(lat) > _LAT_KEEP:
                del lat[: len(lat) - _LAT_KEEP]
            if not ok:
                metrics["errors"] += 1

    def _metrics_snapshot() -> dict:
        with metrics_lock:
            out = {
                "errors": metrics["errors"],
                "cache_hits": metrics["cache_hits"],
                "routes": {},
            }
            for route, r in metrics["routes"].items():
                lat = sorted(r["lat_ms"])
                out["routes"][route] = {
                    "requests": r["requests"],
                    "p50_ms": round(lat[len(lat) // 2], 1) if lat else None,
                    "p95_ms": round(
                        lat[max(0, int(len(lat) * 0.95) - 1)], 1
                    )
                    if lat
                    else None,
                }
            return out

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet: the driver log is enough
            pass

        def _json(self, code: int, payload) -> None:
            key = getattr(self, "_cache_key", None)
            if key is not None and code == 200:
                _cache_put(key, payload)
            body = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _k(self, q) -> int | None:
            """Parse ?k= defensively: non-integer -> None (caller sends
            400); valid values clamp to [1, 100]."""
            try:
                k = int(q.get("k", "10"))
            except ValueError:
                return None
            return max(1, min(k, 100))

        def do_GET(self):  # noqa: N802 (stdlib API name)
            import time as _time

            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            t0 = _time.perf_counter()
            self._cache_key = None
            if cache_size > 0 and u.path in _CACHEABLE:
                # key includes the active snapshot token: a response
                # computed against the OLD snapshot that lands in the
                # cache after a reload's clear() can never match a
                # post-reload lookup (stale-reinsert race)
                ckey = (state["active"][2], self.path)
                hit = _cache_get(ckey)
                if hit is not None:
                    self._json(200, hit)
                    with metrics_lock:
                        metrics["cache_hits"] += 1
                    _record(u.path, (_time.perf_counter() - t0) * 1000, True)
                    return
                self._cache_key = ckey
            try:
                self._dispatch(u, q)
                _record(u.path, (_time.perf_counter() - t0) * 1000, True)
            except Exception as exc:  # surface engine errors as 500 JSON
                self._json(500, {"error": str(exc)})
                _record(u.path, (_time.perf_counter() - t0) * 1000, False)

        def _dispatch(self, u, q):
            engine, blocked_path, _snap = state["active"]
            # the blocked-index deployment: the shards, or the one
            # blocked index as a one-shard deployment
            paths = shard_paths or ([blocked_path] if blocked_path else None)
            if u.path == "/admin/reload" and versioned_root:
                import os as _os

                from .engine import SearchEngine
                from .sources.versioned import VersionedTable

                try:
                    version = (
                        int(q["version"]) if q.get("version") else None
                    )
                except ValueError:
                    self._json(400, {"error": "?version= must be an integer"})
                    return
                with reload_lock:
                    vt = VersionedTable(engine.spark, versioned_root)
                    snap = vt.snapshot_dir(version)
                    cur = state["active"]
                    if snap == cur[2]:
                        self._json(
                            200,
                            {"reloaded": False, "snapshot": snap,
                             "documents": cur[0].total_documents},
                        )
                        return
                    neweng = SearchEngine(engine.spark)
                    neweng.load(snap)
                    neweng.enable_serving()
                    b = _os.path.join(snap, "blocked")
                    newb = (
                        b
                        if _os.path.isdir(b.removeprefix("file://"))
                        else initial_blocked
                    )
                    old = cur[0]
                    state["active"] = (neweng, newb, snap)
                    with cache_lock:
                        cache.clear()
                    try:  # lazy-safe: Spark recomputes for stragglers
                        old.unpersist()
                    except Exception:
                        pass
                self._json(
                    200,
                    {"reloaded": True, "snapshot": snap,
                     "documents": neweng.total_documents,
                     "blocked_path": newb},
                )
            elif u.path == "/":
                body = ENTRY_PAGE.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif u.path == "/health":
                self._json(200, {"ok": True, "documents": engine.total_documents})
            elif u.path == "/search":
                query = q.get("query", "")
                if not query:
                    self._json(400, {"error": "missing ?query="})
                    return
                k = self._k(q)
                if k is None:
                    self._json(400, {"error": "?k= must be an integer"})
                    return
                required = [t for t in q.get("required", "").split(",") if t]
                excluded = [t for t in q.get("excluded", "").split(",") if t]
                if q.get("scorer") == "tfidf":
                    if required or excluded:
                        self._json(
                            400,
                            {"error": "required/excluded need the bm25 scorer"},
                        )
                        return
                    if shard_paths:
                        # shard-configured servers carry no flat index
                        self._json(
                            400,
                            {"error": "tfidf scorer not available on a "
                                      "sharded server"},
                        )
                        return
                    res = engine.search(query, k=k)
                elif shard_paths:
                    res = engine.search_bm25_sharded(
                        shard_paths, query, k=k,
                        required=required, excluded=excluded,
                    )
                elif getattr(engine, "_served", None) is not None:
                    res = engine.search_bm25_served(
                        query, k=k, required=required, excluded=excluded
                    )
                elif required or excluded:
                    self._json(
                        400,
                        {"error": "required/excluded need the serving path"},
                    )
                    return
                else:
                    res = engine.search_bm25(query, k=k)
                rows = [
                    {"url": r["url"], "score": float(r["score"])}
                    for r in res.collect()
                ]
                self._json(200, {"query": query, "results": rows})
            elif u.path == "/autocomplete":
                prefix = q.get("prefix", "")
                if not prefix:
                    self._json(400, {"error": "missing ?prefix="})
                    return
                k = self._k(q)
                if k is None:
                    self._json(400, {"error": "?k= must be an integer"})
                    return
                rows = [
                    {"term": r["term"], "df": int(r["df"])}
                    for r in engine.autocomplete(prefix, k=k).collect()
                ]
                self._json(200, {"prefix": prefix, "completions": rows})
            elif u.path == "/suggest":
                term = q.get("q", "")
                if not term:
                    self._json(400, {"error": "missing ?q="})
                    return
                k = self._k(q)
                if k is None:
                    self._json(400, {"error": "?k= must be an integer"})
                    return
                rows = [
                    {
                        "term": r["term"],
                        "dist": int(r["dist"]),
                        "df": int(r["df"]),
                    }
                    for r in engine.suggest(term, k=k).collect()
                ]
                self._json(200, {"q": term, "suggestions": rows})
            elif u.path == "/boolean":
                query = q.get("query", "")
                k = self._k(q)
                if not query or k is None:
                    self._json(400, {"error": "need ?query= and integer ?k="})
                    return
                ranked = q.get("ranked", "") in ("1", "true")
                try:
                    res = engine.search_boolean(
                        query, k=k, ranked=ranked
                    ).collect()
                except ValueError as exc:  # malformed boolean query
                    self._json(400, {"error": str(exc)})
                    return
                rows = (
                    [{"url": r["url"], "score": float(r["score"])} for r in res]
                    if ranked
                    else [r["url"] for r in res]
                )
                self._json(200, {"query": query, "results": rows})
            elif u.path == "/metrics":
                self._json(200, _metrics_snapshot())
            elif u.path == "/stats" and blocked_path:
                self._json(200, engine.index_stats(blocked_path))
            elif u.path == "/phrase" and paths:
                query = q.get("query", "")
                k = self._k(q)
                if not query or k is None:
                    self._json(400, {"error": "need ?query= and integer ?k="})
                    return
                res = engine.search_phrase_sharded(paths, query, k=k)
                rows = [
                    {"url": r["url"], "n_occurrences": int(r["n_occurrences"])}
                    for r in res.collect()
                ]
                self._json(200, {"query": query, "results": rows})
            elif u.path == "/threshold" and paths:
                query = q.get("query", "")
                try:
                    threshold = float(q.get("threshold", ""))
                except ValueError:
                    threshold = None
                if not query or threshold is None:
                    self._json(
                        400, {"error": "need ?query= and float ?threshold="}
                    )
                    return
                res = engine.search_bm25_threshold_sharded(
                    paths, query, threshold=threshold
                )
                rows = [
                    {"url": r["url"], "score": float(r["score"])}
                    for r in res.collect()
                ]
                self._json(
                    200,
                    {"query": query, "threshold": threshold, "results": rows},
                )
            elif u.path == "/proximity" and paths:
                terms = [t for t in q.get("terms", "").split(",") if t]
                k = self._k(q)
                try:
                    window = int(q.get("window", "5"))
                except ValueError:
                    window = None
                if not terms or k is None or window is None or window < 0:
                    self._json(
                        400,
                        {"error": "need ?terms=a,b integer ?k= and ?window>=0"},
                    )
                    return
                res = engine.search_proximity_sharded(
                    paths, terms, window=window, k=k
                )
                rows = [
                    {"url": r["url"], "n_matches": int(r["n_matches"])}
                    for r in res.collect()
                ]
                self._json(200, {"terms": terms, "window": window, "results": rows})
            elif u.path == "/percolate" and _percolator_asts:
                text = q.get("text", "")
                if not text:
                    self._json(400, {"error": "missing ?text="})
                    return
                from .functions.library import eval_boolean
                from .kernels.textclean import (
                    _PUNCT_RE,
                    _TOKEN_SPLIT_RE,
                    java_split,
                )

                # the indexed analyzer's own Python twin (the crawler
                # cleaning chain): ASCII punctuation stripped, lowercase,
                # split on whitespace and digit boundaries — so 'spark,'
                # matches a stored 'spark' and 'café' stays 'café'
                tokens = set(
                    java_split(_TOKEN_SPLIT_RE, _PUNCT_RE.sub(" ", text).lower())
                ) - {""}
                matches = [
                    qid
                    for qid, ast in _percolator_asts.items()
                    if eval_boolean(ast, tokens)
                ]
                self._json(
                    200,
                    {"n_queries": len(_percolator_asts), "matches": matches},
                )
            elif u.path == "/hybrid" and embeddings_path and paths:
                query = q.get("query", "")
                qurl = q.get("qurl", "")
                k = self._k(q)
                if not query or not qurl or k is None:
                    self._json(
                        400,
                        {"error": "need ?query= ?qurl= and integer ?k="},
                    )
                    return
                from pyspark.sql import functions as F

                emb, vectors = _emb_df()
                if vectors is not None:
                    vec = vectors.get(qurl)
                else:  # past the bound: one lookup job per request
                    row = emb.where(F.col("url") == qurl).select("embedding").take(1)
                    vec = row[0][0] if row else None
                if vec is None:
                    self._json(404, {"error": f"no embedding for url {qurl!r}"})
                    return
                res = engine.search_hybrid_rrf(
                    paths, query, emb, vec,
                    k=k, id_col="url",
                )
                rows = [
                    {
                        "url": r["url"],
                        "bm25_rnk": int(r["bm25_rnk"]),
                        "cos_rnk": int(r["cos_rnk"]),
                        "rrf": float(r["rrf"]),
                    }
                    for r in res.collect()
                ]
                self._json(200, {"query": query, "qurl": qurl, "results": rows})
            else:
                self._json(404, {"error": f"no route {u.path}"})

    return ThreadingHTTPServer((host, port), Handler)
