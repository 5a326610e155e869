"""Hybrid RRF retrieval: engine fusion semantics + the /hybrid route.

The oracle-checked relational twin (catalog_text.hybrid_search_rrf) is
parity-tested in test_oracle_parity; these tests pin the SERVING path:
engine.search_hybrid_rrf must fuse exactly the two retriever orders it
collected, and the HTTP route must round-trip it.
"""

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from google_like_search_engine_spark.corpus import generate_pages
from google_like_search_engine_spark.engine import SearchEngine
from google_like_search_engine_spark.server import make_server

from tests.conftest import spark_jobs

QUERY = "search engine index"
RRF_K = 60


@pytest.fixture(scope="module")
def hybrid_setup(spark, tmp_path_factory):
    pages = generate_pages(spark, 120).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    out = str(tmp_path_factory.mktemp("hyb") / "blocked")
    eng.save_blocked(out)
    # deterministic per-url embeddings sharing the corpus url namespace:
    # 8 dims derived from xxhash64(url, dim) — no RNG, rebuildable
    urls = pages.select("url")
    emb = urls.select(
        "url",
        F.array(
            *[
                (F.pmod(F.xxhash64("url", F.lit(d)), F.lit(1000)) / 1000.0).cast(
                    "float"
                )
                for d in range(8)
            ]
        ).alias("embedding"),
    ).persist()
    emb.count()
    yield eng, out, emb
    emb.unpersist()
    eng.unpersist()


def _expected_fusion(eng, blocked, emb, k, pool=50):
    from google_like_search_engine_spark.analytics.simsearch import cosine_topk

    bm = [r["url"] for r in eng.search_bm25_blocked(blocked, QUERY, k=pool).collect()]
    qv = emb.where(F.col("url") == bm[0]).select("embedding").take(1)[0][0]
    cs = [
        r["url"]
        for r in cosine_topk(emb, qv, k=pool, id_col="url").collect()
    ]
    ranks = {}
    for i, u in enumerate(bm):
        ranks[u] = [i + 1, 0]
    for i, u in enumerate(cs):
        ranks.setdefault(u, [0, 0])[1] = i + 1
    fused = sorted(
        (
            (
                u,
                br,
                cr,
                (1.0 / (RRF_K + br) if br else 0.0)
                + (1.0 / (RRF_K + cr) if cr else 0.0),
            )
            for u, (br, cr) in ranks.items()
        ),
        key=lambda t: (-t[3], t[0]),
    )[:k]
    return qv, fused


def test_engine_fusion_matches_retriever_orders(hybrid_setup):
    eng, blocked, emb = hybrid_setup
    qv, expected = _expected_fusion(eng, blocked, emb, k=15)
    got = [
        (r["url"], r["bm25_rnk"], r["cos_rnk"], r["rrf"])
        for r in eng.search_hybrid_rrf(
            blocked, QUERY, emb, qv, k=15, id_col="url"
        ).collect()
    ]
    assert got == [(u, br, cr, pytest.approx(s)) for u, br, cr, s in expected]
    # fusion property: a doc in both pools scores strictly more than
    # either of its single-pool contributions alone
    both = [g for g in got if g[1] and g[2]]
    assert both  # fixture corpus produces overlap; guard the property
    for _u, br, cr, rrf in both:
        assert rrf == pytest.approx(1.0 / (RRF_K + br) + 1.0 / (RRF_K + cr))
        assert rrf > 1.0 / (RRF_K + br) and rrf > 1.0 / (RRF_K + cr)


def test_engine_fusion_zero_job_result(hybrid_setup):
    """The fused result is a VALUES LocalTableScan: collecting it runs
    no further Spark jobs (the retrievers already ran)."""
    eng, blocked, emb = hybrid_setup
    qv, _ = _expected_fusion(eng, blocked, emb, k=5)
    res = eng.search_hybrid_rrf(blocked, QUERY, emb, qv, k=5, id_col="url")
    assert "LocalTableScan" in res._jdf.queryExecution().executedPlan().toString()


def test_engine_fusion_empty_query(hybrid_setup):
    eng, blocked, emb = hybrid_setup
    qv, _ = _expected_fusion(eng, blocked, emb, k=5)
    res = eng.search_hybrid_rrf(
        blocked, "zzznothere", emb, qv, k=5, id_col="url"
    )
    rows = res.collect()
    # lexical side empty -> pure vector ranks, bm25_rnk all 0
    assert rows and all(r["bm25_rnk"] == 0 for r in rows)


def test_hybrid_route(hybrid_setup, tmp_path_factory):
    eng, blocked, emb = hybrid_setup
    emb_path = str(tmp_path_factory.mktemp("hyb_emb") / "emb.parquet")
    emb.write.parquet(emb_path)
    srv = make_server(
        eng, "127.0.0.1", 0, blocked_path=blocked, embeddings_path=emb_path
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        qurl = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
        q = urllib.parse.urlencode({"query": QUERY, "qurl": qurl, "k": 5})
        with urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=120) as resp:
            body = json.loads(resp.read())
            assert resp.status == 200
        assert body["qurl"] == qurl and len(body["results"]) == 5
        # the query doc itself is rank 1 on the vector side (cos=1)
        assert any(
            r["url"] == qurl and r["cos_rnk"] == 1 for r in body["results"]
        )
        for r in body["results"]:
            assert r["rrf"] > 0 and (r["bm25_rnk"] > 0 or r["cos_rnk"] > 0)
        # validation + unknown qurl
        try:
            urllib.request.urlopen(f"{base}/hybrid?query=a", timeout=60)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        q2 = urllib.parse.urlencode(
            {"query": QUERY, "qurl": "http://nope:80/", "k": 5}
        )
        try:
            urllib.request.urlopen(f"{base}/hybrid?{q2}", timeout=60)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


@pytest.fixture(scope="module")
def hybrid_shards(spark, tmp_path_factory):
    pages = generate_pages(spark, 120).where(F.col("lang") == "en")
    root = tmp_path_factory.mktemp("hyb_shards")
    paths = []
    for i in range(2):
        sub = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        se = SearchEngine(spark).build(sub, run_pagerank=False)
        p = str(root / f"s{i}")
        se.save_blocked(p)
        se.unpersist()
        paths.append(p)
    return paths


def test_engine_fusion_sharded_matches_single(hybrid_setup, hybrid_shards):
    """Hybrid over a 2-shard lexical deployment == hybrid over the
    single full index: search_bm25_sharded is row-identical to the
    single-index run (pinned elsewhere), so the fusion must be too."""
    eng, blocked, emb = hybrid_setup
    paths = hybrid_shards
    qv, _ = _expected_fusion(eng, blocked, emb, k=10)
    single = [
        (r["url"], r["bm25_rnk"], r["cos_rnk"], round(r["rrf"], 9))
        for r in eng.search_hybrid_rrf(
            blocked, QUERY, emb, qv, k=10, id_col="url"
        ).collect()
    ]
    sharded = [
        (r["url"], r["bm25_rnk"], r["cos_rnk"], round(r["rrf"], 9))
        for r in eng.search_hybrid_rrf(
            paths, QUERY, emb, qv, k=10, id_col="url"
        ).collect()
    ]
    assert sharded == single and single


def test_hybrid_route_sharded(hybrid_setup, hybrid_shards, tmp_path_factory):
    """/hybrid on a shard-configured server federates the lexical side."""
    eng, blocked, emb = hybrid_setup
    emb_path = str(tmp_path_factory.mktemp("hyb_emb_sh") / "emb.parquet")
    emb.write.parquet(emb_path)
    srv = make_server(
        eng, "127.0.0.1", 0, shard_paths=hybrid_shards,
        embeddings_path=emb_path,
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        qurl = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
        q = urllib.parse.urlencode({"query": QUERY, "qurl": qurl, "k": 5})
        with urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=120) as resp:
            body = json.loads(resp.read())
            assert resp.status == 200
        direct = [
            (r["url"], r["bm25_rnk"], r["cos_rnk"])
            for r in eng.search_hybrid_rrf(
                hybrid_shards, QUERY, emb, _qv(emb, qurl), k=5, id_col="url"
            ).collect()
        ]
        assert [
            (r["url"], r["bm25_rnk"], r["cos_rnk"]) for r in body["results"]
        ] == direct
    finally:
        srv.shutdown()


def test_warm_sharded_hybrid_route_sends_four_sql_texts(
    hybrid_setup, hybrid_shards, tmp_path_factory
):
    """A warm 2-shard /hybrid builds 4 spark.sql texts: one BM25 text
    per shard, the cosine text and the fused VALUES result. The merged
    shard rows fuse as they are; wrapping them in a VALUES relation
    first, and collecting it, was a fifth."""
    from tests.conftest import py4j_calls

    eng, blocked, emb = hybrid_setup
    emb_path = str(tmp_path_factory.mktemp("hyb_emb_sql") / "emb.parquet")
    emb.write.parquet(emb_path)
    srv = make_server(
        eng, "127.0.0.1", 0, shard_paths=hybrid_shards, embeddings_path=emb_path
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        qurl = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
        q = urllib.parse.urlencode({"query": QUERY, "qurl": qurl, "k": 5})
        for _request in range(2):  # the second one is warm
            with py4j_calls(eng.spark.sparkContext) as calls:
                with urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=120) as resp:
                    assert resp.status == 200 and json.loads(resp.read())["results"]
        assert calls("sql") == 4, calls("sql")
    finally:
        srv.shutdown()


def _qv(emb, url):
    return emb.where(F.col("url") == url).select("embedding").take(1)[0][0]


def test_warm_hybrid_is_two_spark_jobs(hybrid_setup):
    """Structural latency pin: a warm hybrid request costs exactly TWO
    Spark jobs — one per retriever (blocked BM25 top-k, cosine top-k);
    the fusion itself is a driver-side merge returning a VALUES
    LocalRelation (zero jobs). Independent of host-epoch timing."""
    eng, blocked, emb = hybrid_setup
    top = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
    qv = _qv(emb, top)
    with eng.low_latency():
        eng.search_hybrid_rrf(blocked, QUERY, emb, qv, k=5, id_col="url").collect()
        with spark_jobs(eng.spark.sparkContext) as jobs:
            eng.search_hybrid_rrf(
                blocked, "index merge", emb, qv, k=5, id_col="url"
            ).collect()
    assert jobs() == 2, jobs()


def test_cosine_topk_matches_plain_python(hybrid_setup):
    """simsearch.cosine_topk (one SQL text) against a plain-Python
    cosine over the same vectors: same order (ties by url) and scores
    to rel 1e-12."""
    import math

    from google_like_search_engine_spark.analytics.simsearch import cosine_topk

    _eng, _blocked, emb = hybrid_setup
    vecs = {r["url"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    for qurl in sorted(vecs)[:3]:
        q = vecs[qurl]
        qn = math.sqrt(sum(x * x for x in q))
        want = sorted(
            (
                (u, sum(a * b for a, b in zip(v, q)) / (math.sqrt(sum(a * a for a in v)) * qn))
                for u, v in vecs.items()
            ),
            key=lambda t: (-t[1], t[0]),
        )[:40]
        got = [(r["url"], r["cos_sim"]) for r in cosine_topk(emb, q, k=40, id_col="url").collect()]
        assert [u for u, _s in got] == [u for u, _s in want], qurl
        for (_u, a), (_v, b) in zip(got, want):
            assert a == pytest.approx(b, rel=1e-12)


def test_warm_hybrid_route_needs_no_vector_lookup_job(hybrid_setup, tmp_path_factory):
    """/hybrid resolves ?qurl= from a driver-side {url: vector} map
    built once with the embeddings: a warm request runs TWO Spark jobs
    (the BM25 shard job and the cosine job), one fewer than a per-request
    lookup job made, and an unknown qurl is still a 404."""
    eng, blocked, emb = hybrid_setup
    emb_path = str(tmp_path_factory.mktemp("hyb_emb_jobs") / "emb.parquet")
    emb.write.parquet(emb_path)
    srv = make_server(
        eng, "127.0.0.1", 0, blocked_path=blocked, embeddings_path=emb_path
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    tracker = eng.spark.sparkContext.statusTracker()
    try:
        qurl = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
        for query in (QUERY, "index merge"):
            q = urllib.parse.urlencode({"query": query, "qurl": qurl, "k": 5})
            # handler threads carry no job group: count the ungrouped
            # jobs the second (warm) request adds
            before = set(tracker.getJobIdsForGroup(None))
            with urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=120) as resp:
                assert resp.status == 200 and json.loads(resp.read())["results"]
            new_jobs = set(tracker.getJobIdsForGroup(None)) - before
        assert len(new_jobs) == 2, new_jobs
        q = urllib.parse.urlencode({"query": QUERY, "qurl": "http://nope/", "k": 5})
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=60)
        assert err.value.code == 404
    finally:
        srv.shutdown()


def test_hybrid_route_past_the_vector_map_bound(hybrid_setup, tmp_path_factory):
    """Embeddings past the driver-side map's bound (URL_DICT_CAP * 16
    vector elements; a zero cap forces it here) resolve ?qurl= with a
    lookup job per request: same fused answer as the mapped path, and
    an unknown qurl is still a 404."""
    eng, blocked, emb = hybrid_setup
    emb_path = str(tmp_path_factory.mktemp("hyb_emb_big") / "emb.parquet")
    emb.write.parquet(emb_path)
    uncapped = SearchEngine(eng.spark)
    uncapped.URL_DICT_CAP = 0
    _qv, want = _expected_fusion(eng, blocked, emb, 5)
    qurl = eng.search_bm25_blocked(blocked, QUERY, k=1).collect()[0]["url"]
    srv = make_server(
        uncapped, "127.0.0.1", 0, blocked_path=blocked, embeddings_path=emb_path
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        q = urllib.parse.urlencode({"query": QUERY, "qurl": qurl, "k": 5})
        with urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=120) as resp:
            rows = json.loads(resp.read())["results"]
        assert [(r["url"], r["bm25_rnk"], r["cos_rnk"]) for r in rows] == [
            (u, br, cr) for u, br, cr, _rrf in want
        ]
        q = urllib.parse.urlencode({"query": QUERY, "qurl": "http://nope/", "k": 5})
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"{base}/hybrid?{q}", timeout=60)
        assert err.value.code == 404
    finally:
        srv.shutdown()
        uncapped.unpersist()
