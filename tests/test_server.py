"""HTTP serving surface (the RankerStarter /search analog) + the
dictionary-backed autocomplete API."""

import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from google_like_search_engine_spark.corpus import generate_pages
from google_like_search_engine_spark.engine import SearchEngine
from google_like_search_engine_spark.server import make_server

from tests.conftest import spark_jobs


@pytest.fixture(scope="module")
def engine(spark):
    pages = generate_pages(spark, 120).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    assert eng.enable_serving()
    yield eng
    eng.unpersist()


@pytest.fixture(scope="module")
def base_url(engine):
    srv = make_server(engine, "127.0.0.1", 0)  # ephemeral port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_health(base_url, engine):
    code, body = _get(f"{base_url}/health")
    assert code == 200 and body["ok"] and body["documents"] == engine.total_documents


def test_search_matches_engine(base_url, engine):
    code, body = _get(f"{base_url}/search?query=search+engine+index&k=5")
    assert code == 200
    direct = [
        (r["url"], float(r["score"]))
        for r in engine.search_bm25_served("search engine index", k=5).collect()
    ]
    assert [(r["url"], r["score"]) for r in body["results"]] == direct


def test_serving_clone_conf_isolated(engine, spark):
    """serving_clone owns its SQL conf (AQE off, small shuffle) while
    the parent session's batch conf is untouched, and the rebound
    relations score identically."""
    clone = engine.serving_clone()
    assert clone.spark is not engine.spark
    assert clone.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert clone.spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.adaptive.enabled") != "false"
    direct = engine.search_bm25_served("search engine index", k=5).collect()
    cloned = clone.search_bm25_served("search engine index", k=5).collect()
    assert [(r["url"], r["score"]) for r in direct] == [
        (r["url"], r["score"]) for r in cloned
    ]


def test_serving_clone_from_loaded_engine(engine, spark, tmp_path_factory):
    """The path-loaded branch: the clone re-reads the same files under
    its own session (shared cache, no second copy) and serves the
    identical join-path ranking."""
    path = str(tmp_path_factory.mktemp("clone_idx") / "idx")
    engine.save(path)
    loaded = SearchEngine(spark).load(path, with_pageranks=False)
    clone = loaded.serving_clone()
    assert clone.spark is not loaded.spark
    a = loaded.search_bm25("search engine", k=5).collect()
    b = clone.search_bm25("search engine", k=5).collect()
    assert [(r["url"], r["score"]) for r in a] == [
        (r["url"], r["score"]) for r in b
    ]
    loaded.unpersist()


def test_autocomplete_served_from_dictionary(base_url, engine):
    code, body = _get(f"{base_url}/autocomplete?prefix=se&k=5")
    assert code == 200
    terms = [c["term"] for c in body["completions"]]
    assert terms and all(t.startswith("se") for t in terms)
    # agrees with the dictionary relation itself
    direct = [r["term"] for r in engine.autocomplete("se", k=5).collect()]
    assert terms == direct


def test_search_missing_query_is_400(base_url):
    try:
        urllib.request.urlopen(f"{base_url}/search", timeout=60)
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_bad_k_is_400_not_500(base_url):
    for bad in ("abc", "1.5"):
        try:
            urllib.request.urlopen(
                f"{base_url}/search?query=index&k={bad}", timeout=60
            )
            assert False, "expected HTTPError"
        except urllib.error.HTTPError as e:
            assert e.code == 400


def test_negative_k_clamps_to_one(base_url):
    code, body = _get(f"{base_url}/search?query=search+engine+index&k=-3")
    assert code == 200
    assert len(body["results"]) <= 1


def test_entry_page_served(base_url):
    with urllib.request.urlopen(f"{base_url}/", timeout=60) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        body = resp.read().decode("utf-8")
    # the page drives the JSON routes the tests above verify,
    # including the positional ones ("quoted phrase" / a NEAR/5 b)
    assert "/search?query=" in body and "/autocomplete?prefix=" in body
    assert "/phrase?query=" in body and "/proximity?terms=" in body
    assert "NEAR" in body and "n_occurrences" in body and "n_matches" in body
    assert "/suggest?q=" in body and "did you mean" in body
    assert "/boolean?query=" in body


def test_concurrent_requests_consistent(base_url, engine):
    """With the dedicated serving session there is no shared-conf
    mutation to race on: 16 overlapping mixed requests all succeed and
    every /search response matches the direct engine result."""
    from concurrent.futures import ThreadPoolExecutor

    direct = [
        (r["url"], float(r["score"]))
        for r in engine.search_bm25_served("search engine index", k=5).collect()
    ]

    def one(i):
        if i % 4 == 3:
            return _get(f"{base_url}/health")
        return _get(f"{base_url}/search?query=search+engine+index&k=5")

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(16)))
    assert all(code == 200 for code, _ in results)
    for code, body in results:
        if "results" in body:
            got = [(r["url"], r["score"]) for r in body["results"]]
            assert got == direct


def test_unknown_route_is_404(base_url):
    try:
        urllib.request.urlopen(f"{base_url}/nope", timeout=60)
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        assert e.code == 404


@pytest.fixture(scope="module")
def blocked_url(engine, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srv") / "blocked")
    engine.save_blocked(out)
    srv = make_server(engine, "127.0.0.1", 0, blocked_path=out)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_phrase_route(blocked_url):
    code, body = _get(f"{blocked_url}/phrase?query=search+engine&k=5")
    assert code == 200
    for r in body["results"]:
        assert r["n_occurrences"] >= 1


def test_proximity_route(blocked_url):
    code, body = _get(f"{blocked_url}/proximity?terms=search,engine&window=8&k=5")
    assert code == 200 and body["window"] == 8
    for r in body["results"]:
        assert r["n_matches"] >= 1
    # proximity at a generous window admits at least every phrase match
    code2, phrase = _get(f"{blocked_url}/phrase?query=search+engine&k=100")
    prox_urls = {r["url"] for r in body["results"]}
    if phrase["results"]:
        assert prox_urls  # both non-empty on this corpus


def test_proximity_route_validation(blocked_url):
    code, body = _get_allow_error(f"{blocked_url}/proximity?terms=&k=5")
    assert code == 400
    code, body = _get_allow_error(f"{blocked_url}/proximity?terms=a,b&window=x")
    assert code == 400


def test_proximity_window_past_int32_is_clamped(blocked_url):
    """Positions are int32, so any window past 2**31 - 1 already means
    anywhere in the doc: a 41-digit window answers 200 with the rows of
    the int32 maximum, instead of failing to parse as a SQL literal."""
    rows = {}
    for window in (2**31 - 1, 10**40):
        code, body = _get_allow_error(
            f"{blocked_url}/proximity?terms=search,engine&window={window}&k=20"
        )
        assert code == 200, body
        rows[window] = body["results"]
    assert rows[10**40] == rows[2**31 - 1] and rows[10**40]


def test_positional_routes_404_without_blocked(base_url):
    code, _ = _get_allow_error(f"{base_url}/phrase?query=a+b")
    assert code == 404


def _get_allow_error(url):
    import urllib.error

    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_stats_route(blocked_url, engine):
    code, body = _get(f"{blocked_url}/stats")
    assert code == 200
    assert body["total_documents"] == engine.total_documents
    assert body["n_postings"] > 0 and body["buckets"]["count"] >= 1


def test_search_with_boolean_filters(base_url, engine):
    # pick a term present in the dictionary to require, one to exclude
    terms = [r["term"] for r in engine.autocomplete("s", k=2).collect()]
    req = terms[0]
    code, body = _get(
        f"{base_url}/search?query=search+engine&required={req}&k=50"
    )
    assert code == 200
    urls = {r["url"] for r in body["results"]}
    # every returned url's doc really contains the required term
    direct = {
        r["url"]
        for r in engine.search_bm25_served(
            "search engine", k=50, required=[req]
        ).collect()
    }
    assert urls == direct
    # excluding the required term empties the intersection
    code, body2 = _get(
        f"{base_url}/search?query=search+engine&required={req}&excluded={req}&k=50"
    )
    assert code == 200 and body2["results"] == []


def test_threshold_route(blocked_url):
    code, body = _get(f"{blocked_url}/threshold?query=search+engine&threshold=0.5")
    assert code == 200 and body["threshold"] == 0.5
    assert body["results"], body
    for r in body["results"]:
        assert r["score"] >= 0.5
    # raising the cutoff can only shrink the set
    code2, body2 = _get(
        f"{blocked_url}/threshold?query=search+engine&threshold=2.5"
    )
    assert code2 == 200
    assert len(body2["results"]) <= len(body["results"])
    code3, body3 = _get_allow_error(f"{blocked_url}/threshold?query=search+engine")
    assert code3 == 400


def test_suggest_route_matches_engine(base_url, engine):
    """Misspell a dictionary term; the route returns the engine's
    (distance, df desc, term)-ranked corrections and the true term
    ranks first."""
    seed = [r["term"] for r in engine.autocomplete("se", k=1).collect()][0]
    typo = seed[:-1] + "zz"  # dist 2 from seed: one substitution + one insert
    code, body = _get(f"{base_url}/suggest?q={typo}&k=3")
    assert code == 200
    direct = [
        (r["term"], int(r["dist"]), int(r["df"]))
        for r in engine.suggest(typo, k=3).collect()
    ]
    assert [(s["term"], s["dist"], s["df"]) for s in body["suggestions"]] == direct
    assert direct and direct[0][0] == seed


def test_suggest_missing_q_is_400(base_url):
    code, body = _get_allow_error(f"{base_url}/suggest")
    assert code == 400


def test_metrics_route_counts_and_latencies(base_url):
    """Requests show up per route with latency percentiles; errors
    count separately; /metrics observes itself only on later scrapes."""
    _get(f"{base_url}/health")
    _get(f"{base_url}/health")
    _get_allow_error(f"{base_url}/search")  # 400 -> dispatched fine, no error
    code, body = _get(f"{base_url}/metrics")
    assert code == 200
    health = body["routes"]["/health"]
    assert health["requests"] >= 2
    assert health["p50_ms"] is not None and health["p50_ms"] >= 0
    assert "/search" in body["routes"]


@pytest.fixture(scope="module")
def cached_url(engine):
    srv = make_server(engine, "127.0.0.1", 0, cache_size=8)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_result_cache_hits_and_identical_bodies(cached_url):
    """Second identical /search is a cache hit with a byte-identical
    body; /health is never cached; a different query string misses."""
    url = f"{cached_url}/search?query=search+engine+index&k=5"
    _, a = _get(url)
    _, m0 = _get(f"{cached_url}/metrics")
    _, b = _get(url)
    _, m1 = _get(f"{cached_url}/metrics")
    assert a == b
    assert m1["cache_hits"] == m0["cache_hits"] + 1
    _get(f"{cached_url}/health")
    _get(f"{cached_url}/health")
    _, c = _get(f"{cached_url}/search?query=search+engine+index&k=3")
    _, m2 = _get(f"{cached_url}/metrics")
    assert m2["cache_hits"] == m1["cache_hits"]  # health/k=3 not hits
    assert len(c["results"]) <= 3


def test_curate_index_serve_user_journey(spark, tmp_path):
    """The full pipeline a corpus user runs, composed end to end over
    the real testdata corpus (the curation gates are corpus-tuned):
    curate, index only the survivors, serve over HTTP, and every
    ranked result is a survivor."""
    from google_like_search_engine_spark.catalog import load
    from google_like_search_engine_spark.catalog_text import curate_corpus

    sf = "/root/testdata/sf0.001"
    audit = curate_corpus(spark, sf)
    kept_ids = audit.where("keep").select("doc_id")
    n_kept = kept_ids.count()
    assert 0 < n_kept < 500  # every gate did real work

    kept_pages = (
        load(spark, sf, "documents")
        .join(kept_ids, "doc_id", "left_semi")
        .select(
            F.concat(F.lit("http://corpus/"), F.col("doc_id")).alias("url"),
            "text",
            "lang",
        )
    )
    eng = SearchEngine(spark).build(kept_pages, run_pagerank=False)
    assert eng.enable_serving()
    kept_urls = {r["url"] for r in kept_pages.select("url").collect()}
    srv = make_server(eng, "127.0.0.1", 0, cache_size=4)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        _, comp = _get(f"{base}/autocomplete?prefix=s&k=1")
        term = comp["completions"][0]["term"]
        code, body = _get(f"{base}/search?query={term}&k=10")
        assert code == 200 and body["results"]
        assert {r["url"] for r in body["results"]} <= kept_urls
        _, m = _get(f"{base}/metrics")
        assert m["routes"]["/search"]["requests"] == 1
    finally:
        srv.shutdown()
    eng.unpersist()


def test_metrics_unknown_paths_bucket_to_other(base_url):
    """A scanner probing distinct 404 paths must not grow the route
    table: they all land in one 'other' bucket."""
    for i in range(5):
        _get_allow_error(f"{base_url}/scan{i}")
    _, m = _get(f"{base_url}/metrics")
    assert not any(r.startswith("/scan") for r in m["routes"])
    assert m["routes"]["other"]["requests"] >= 5


def test_boolean_route_semantics(base_url, engine):
    """The boolean language end to end: results satisfy the compiled
    predicate (checked against per-doc term sets computed directly),
    and malformed queries 400."""
    terms = [r["term"] for r in engine.autocomplete("s", k=2).collect()]
    a, b = terms[0], terms[1]
    q = f"{a} AND NOT {b}"
    code, body = _get(
        f"{base_url}/boolean?query={urllib.parse.quote(q)}&k=100"
    )
    assert code == 200
    got = set(body["results"])
    postings = {
        (r["term"], r["url"])
        for r in engine.postings.where(
            engine.postings["term"].isin([a, b])
        ).select("term", "url").collect()
    }
    urls_a = {u for t, u in postings if t == a}
    urls_b = {u for t, u in postings if t == b}
    want = urls_a - urls_b
    assert got == set(sorted(want)[:100])
    code, body = _get_allow_error(f"{base_url}/boolean?query=AND+a")
    assert code == 400


def test_boolean_ranked_orders_by_bm25(base_url, engine):
    """ranked=1 returns the same match set ordered by BM25 over the
    positive terms; scores agree with search_bm25 on those terms."""
    terms = [r["term"] for r in engine.autocomplete("s", k=2).collect()]
    a, b = terms[0], terms[1]
    q = f"{a} AND NOT {b}"
    _, plain = _get(f"{base_url}/boolean?query={urllib.parse.quote(q)}&k=100")
    code, ranked = _get(
        f"{base_url}/boolean?query={urllib.parse.quote(q)}&k=100&ranked=1"
    )
    assert code == 200
    assert {r["url"] for r in ranked["results"]} == set(plain["results"])
    scores = [r["score"] for r in ranked["results"]]
    assert scores == sorted(scores, reverse=True)
    direct = {
        r["url"]: float(r["score"])
        for r in engine.search_bm25(a, k=1000).collect()
    }
    for r in ranked["results"]:
        assert direct[r["url"]] == r["score"]


def test_boolean_wildcard_prefix_expansion(engine):
    """A trailing-star term matches every dictionary term with that
    prefix: 'se*' equals the union of the se-completions, checked
    against an explicit OR over them."""
    comps = [r["term"] for r in engine.autocomplete("se", k=50).collect()]
    assert comps
    star = {r["url"] for r in engine.search_boolean("se*", k=10_000).collect()}
    explicit = {
        r["url"]
        for r in engine.search_boolean(" OR ".join(comps), k=10_000).collect()
    }
    assert star == explicit and star


def test_sharded_search_route(engine, tmp_path_factory):
    """/search on a shard-configured server scatter-gathers with
    global stats and matches the engine's own blocked single-index
    answer, including +/- filters (shard-local doc membership keeps
    them exact)."""
    tmp = tmp_path_factory.mktemp("shardsrv")
    full_p, s0_p, s1_p = (str(tmp / n) for n in ("full", "s0", "s1"))
    engine.save_blocked(full_p)

    spark = engine.spark
    from google_like_search_engine_spark.indexer import build_postings

    def build_shard(pred, path):
        e = SearchEngine(spark)
        e.postings = engine.postings.where(pred)
        e.doc_stats = engine.doc_stats.where(pred)
        e.save_blocked(path)

    shard_of = F.pmod(F.xxhash64("url"), F.lit(2))
    build_shard(shard_of == 0, s0_p)
    build_shard(shard_of == 1, s1_p)

    srv = make_server(engine, "127.0.0.1", 0, shard_paths=[s0_p, s1_p])
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body = _get(f"{base}/search?query=search+engine&k=5")
        assert code == 200
        want = [
            (r["url"], round(r["score"], 6))
            for r in engine.search_bm25_blocked(
                full_p, "search engine", k=5
            ).collect()
        ]
        got = [(r["url"], round(r["score"], 6)) for r in body["results"]]
        assert got == want
        # positional routes open in sharded mode too
        codep, bodyp = _get(f"{base}/phrase?query=search+engine&k=5")
        wantp = sorted(
            (r["url"], int(r["n_occurrences"])) for r in
            engine.search_phrase_blocked(full_p, "search engine", k=5).collect())
        assert codep == 200 and sorted(
            (r["url"], r["n_occurrences"]) for r in bodyp["results"]) == wantp

        code2, body2 = _get(
            f"{base}/search?query=search+engine&k=5&required=index"
        )
        want2 = [
            (r["url"], round(r["score"], 6))
            for r in engine.search_bm25_blocked(
                full_p, "search engine", k=5, required=["index"]
            ).collect()
        ]
        got2 = [(r["url"], round(r["score"], 6)) for r in body2["results"]]
        assert code2 == 200 and got2 == want2 and got2
    finally:
        srv.shutdown()


def test_warm_served_query_is_one_spark_job(engine):
    """Structural pin for the served path: a warm single-index BM25
    request on the serving cache is exactly ONE Spark job."""
    engine.search_bm25_served("search engine", k=10).collect()
    with spark_jobs(engine.spark.sparkContext) as jobs:
        rows = engine.search_bm25_served("index merge", k=10).collect()
    assert jobs() == 1 and rows


def test_warm_filtered_served_query_is_one_spark_job(engine):
    """A +/- filtered served request scans the serving cache once and
    aggregates its score and presence flags per url: ONE Spark job, no
    semi/anti join."""
    engine.search_bm25_served(
        "search engine", k=10, required=["index"], excluded=["merge"]
    ).collect()
    with spark_jobs(engine.spark.sparkContext) as jobs:
        rows = engine.search_bm25_served(
            "index merge", k=10, required=["search"], excluded=["engine"]
        ).collect()
    assert jobs() == 1 and rows


def test_warm_served_query_is_one_sql_text(engine):
    """A warm served BM25 request, plain or +/- filtered, is built as
    ONE spark.sql text over the serving cache and runs with at most 40
    py4j commands, collect included; the Column chain it replaces sent
    ~400."""
    from tests.conftest import py4j_calls

    for kw in ({}, {"required": ["search"], "excluded": ["engine"]}):
        engine.search_bm25_served("search engine", k=10, **kw).collect()
        with py4j_calls(engine.spark.sparkContext) as calls:
            rows = engine.search_bm25_served("index merge", k=10, **kw).collect()
        assert rows and calls("sql") == 1 and calls() <= 40, (kw, calls())


def test_no_hit_served_query_collects_with_zero_jobs(engine):
    """A served query with no indexed term returns a LocalRelation:
    its collect schedules no Spark job."""
    res = engine.search_bm25_served("zzznope", k=10)
    with spark_jobs(engine.spark.sparkContext) as jobs:
        assert res.collect() == []
    assert jobs() == 0


def test_percolate_route(engine):
    """Per-document stored-query matching: driver-side AST walk, no
    Spark job; semantics match the other two boolean compilers."""
    queries = {
        "q_and": "search AND engine",
        "q_not": "search AND NOT zzznope",
        "q_wild": "engi*",
        "q_miss": "zzznope",
    }
    srv = make_server(engine, "127.0.0.1", 0, percolator=queries)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        import urllib.parse

        q = urllib.parse.urlencode({"text": "the search engine index page"})
        code, body = _get(f"{base}/percolate?{q}")
        assert code == 200 and body["n_queries"] == 4
        assert body["matches"] == ["q_and", "q_not", "q_wild"]
        # no Spark job: the route works even for giant stored-query sets
        with spark_jobs(engine.spark.sparkContext) as jobs:
            _get(f"{base}/percolate?{q}")
        assert jobs() == 0
        # validation + absence of the route without stored queries
        code2, _ = _get_allow_error(f"{base}/percolate")
        assert code2 == 400
    finally:
        srv.shutdown()


def test_percolate_analyzer_tokenization(engine):
    """Punctuation-adjacent occurrences must match stored queries: the
    arriving document is tokenized like the indexed boolean paths
    (the cleaning chain's punct strip, lowercase, whitespace and digit
    boundary split), not bare-whitespace split; non-ASCII letters stay
    in the token, as they do in the index."""
    queries = {"q_punct": "spark AND engine", "q_num": "42", "q_cafe": "café"}
    srv = make_server(engine, "127.0.0.1", 0, percolator=queries)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        from urllib.parse import urlencode

        q = urlencode({"text": "Spark, (engine!) v42beta"})
        code, body = _get(f"{base}/percolate?{q}")
        assert code == 200
        assert sorted(body["matches"]) == ["q_num", "q_punct"]
        code, body = _get(f"{base}/percolate?{urlencode({'text': 'Café, anyone?'})}")
        assert code == 200 and body["matches"] == ["q_cafe"]
    finally:
        srv.shutdown()
