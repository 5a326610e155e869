"""Blocked-index BM25 == flat naive BM25 (exactness through the
blocked path: block -> explode -> score)."""

import pytest
from pyspark.sql import functions as F

from google_like_search_engine_spark.compression import (
    assign_doc_indexes,
    block_postings,
)
from google_like_search_engine_spark.engine import SearchEngine
from google_like_search_engine_spark.indexer import build_postings
from google_like_search_engine_spark.ranker import score_bm25
from google_like_search_engine_spark.wand import (
    blocked_maxscore_topk,
    blocked_phrase_topk,
    blocked_proximity_topk,
)

from tests.conftest import spark_jobs
from tests.test_wand_and_lineage import _random_docs


def _skewed_docs(spark):
    """A tf-skewed corpus: 8 "hot" docs repeat "spark shuffle" 30 times,
    152 "cold" docs mention it once among filler. Hot and cold docs
    land in different doc-index ranges, so at block_span 16 the cold
    blocks' max_tf stays 1 — the shape most favourable to block-max
    skipping."""
    rows = [(f"d{i:03d}", f"http://x.com/{i:03d}.html", " ".join(["spark shuffle"] * 30))
            for i in range(8)]
    rows += [(f"d{i:03d}", f"http://x.com/{i:03d}.html",
              "filler words here spark shuffle other stuff") for i in range(8, 160)]
    return spark.createDataFrame(rows, "doc_id string, url string, text string")


def _common_rare_docs(spark):
    """40 docs that all say "common" 3 times; every fifth also says
    "rare" 1-4 times: a low-idf term in every doc next to a high-idf
    term in a few."""
    rows = [
        (f"d{i:02d}", f"http://x.com/{i:02d}.html",
         "common " * 3 + ("rare " * (1 + i % 4) if i % 5 == 0 else "filler"))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id string, url string, text string")


# name -> (docs, block_span)
_CORPORA = {
    "random": (lambda spark, seed: _random_docs(spark, n=150, seed=seed), 32),
    "skewed": (lambda spark, seed: _skewed_docs(spark), 16),
    "common_rare": (lambda spark, seed: _common_rare_docs(spark), 8),
}


def _blocked_corpus(spark, corpus, seed):
    """(postings, doc_stats, blocks, doc_stats_idx, n) of a named corpus,
    persisted; the caller unpersists them."""
    make, span = _CORPORA[corpus]
    docs = make(spark, seed)
    postings = build_postings(docs).persist()
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(idx, "doc_id"), block_span=span).persist()
    doc_stats = postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    doc_stats_idx = doc_stats.join(idx, "doc_id").select(
        "doc_index", "url", "n_term_entries"
    ).persist()
    return postings, doc_stats, blocks, doc_stats_idx, docs.count()


@pytest.mark.parametrize("corpus,query,k", [
    pytest.param("random", "spark shuffle", 5, id="spark shuffle-5"),
    pytest.param("random", "spark", 10, id="spark-10"),
    pytest.param("random", "index merge join table", 7, id="index merge join table-7"),
    pytest.param("random", "missingword", 5, id="missingword-5"),
    pytest.param("skewed", "spark shuffle", 5, id="skewed-spark shuffle-5"),
    pytest.param("common_rare", "common rare", 3, id="common_rare-common rare-3"),
])
def test_blocked_maxscore_equals_naive(spark, corpus, query, k):
    """Exactness through the compressed path (encode -> decode -> one
    SQL text) against the naive scorer, on a random corpus and on the
    tf-skewed shapes block-max pruning was built for. Scores differ at
    most by the idf's one-ulp JVM/Python log difference and summation
    order, so rel 1e-12 holds."""
    postings, doc_stats, blocks, doc_stats_idx, n = _blocked_corpus(spark, corpus, 23)
    naive = score_bm25(spark, query, postings, doc_stats, n).limit(k).collect()
    fast = blocked_maxscore_topk(spark, query, blocks, doc_stats_idx, n, k=k).collect()
    assert [r["url"] for r in fast] == [r["url"] for r in naive], query
    for a, b in zip(fast, naive):
        assert a["score"] == pytest.approx(b["score"], rel=1e-12)
    for df in (postings, blocks, doc_stats_idx):
        df.unpersist()


def test_blocked_phrase_topk_counts(spark):
    """Positional phrase counts off the blocks' position lists equal a
    direct adjacency computation on the flat postings."""
    docs = spark.createDataFrame(
        [
            ("d0", "u0", "table scan table scan table"),
            ("d1", "u1", "scan table scan"),
            ("d2", "u2", "table table scan"),
            ("d3", "u3", "nothing relevant here"),
            ("d4", "u4", "table scan"),
        ],
        "doc_id string, url string, text string",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(idx, "doc_id"), block_span=4).persist()
    dsi = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .join(idx, "doc_id")
        .select("doc_index", "url", "n_term_entries")
    )
    got = {
        r["url"]: r["n_occurrences"]
        for r in blocked_phrase_topk(spark, "table scan", blocks, dsi, k=10).collect()
    }
    # adjacency over the raw token stream (same 1-based positions)
    assert got == {"u0": 2, "u1": 1, "u2": 1, "u4": 1}
    # repeated-word phrase: "table table" only in u2
    got2 = {
        r["url"]: r["n_occurrences"]
        for r in blocked_phrase_topk(spark, "table table", blocks, dsi, k=10).collect()
    }
    assert got2 == {"u2": 1}
    blocks.unpersist()


def test_blocked_proximity_topk_counts(spark):
    """Window-proximity anchor counts off the positions store match a
    hand computation; window=0 degenerates to exact co-position (never
    matches distinct terms); order of partner terms doesn't matter."""
    from google_like_search_engine_spark.wand import blocked_proximity_topk

    docs = spark.createDataFrame(
        [
            # positions:  a=1, x=2..4, b=5  -> |b-a| = 4
            ("d0", "u0", "alpha x x x beta"),
            # a=1, b=2 adjacent; plus a=4 with b at 2 (|2-4|=2)
            ("d1", "u1", "alpha beta x alpha"),
            ("d2", "u2", "alpha x x x x x beta"),   # gap 6 > 5
            ("d3", "u3", "beta x alpha"),           # |1-3| = 2
            ("d4", "u4", "alpha only here"),
        ],
        "doc_id string, url string, text string",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(idx, "doc_id"), block_span=4).persist()
    dsi = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .join(idx, "doc_id")
        .select("doc_index", "url", "n_term_entries")
    )

    def run(terms, w):
        return {
            r["url"]: r["n_matches"]
            for r in blocked_proximity_topk(spark, terms, w, blocks, dsi, k=10).collect()
        }

    assert run(["alpha", "beta"], 5) == {"u0": 1, "u1": 2, "u3": 1}
    assert run(["alpha", "beta"], 1) == {"u1": 1}
    assert run(["alpha", "beta"], 0) == {}
    # anchor on beta instead: counts anchor occurrences of beta
    assert run(["beta", "alpha"], 5) == {"u0": 1, "u1": 1, "u3": 1}
    blocks.unpersist()


@pytest.mark.parametrize("corpus,query,threshold", [
    pytest.param("random", "spark shuffle index", 0.5, id="0.5"),
    pytest.param("random", "spark shuffle index", 1.5, id="1.5"),
    pytest.param("random", "spark shuffle index", 3.0, id="3.0"),
    pytest.param("random", "spark shuffle index", 99.0, id="99.0"),
    pytest.param("skewed", "spark shuffle", None, id="skewed-gap"),
    pytest.param("common_rare", "common rare", None, id="common_rare-gap"),
])
def test_blocked_maxscore_threshold_equals_naive(spark, corpus, query, threshold):
    """The score-threshold form (the oracle-checked driver entry's
    plan) returns exactly the naive scorer's docs with round(score,4)
    >= threshold, an empty set above every score included. On the
    tf-skewed corpora the threshold (None) sits in the gap between the
    8 hot docs and the rest."""
    from google_like_search_engine_spark.wand import blocked_maxscore_threshold

    postings, doc_stats, blocks, doc_stats_idx, n = _blocked_corpus(spark, corpus, 29)
    naive = score_bm25(spark, query, postings, doc_stats, n).collect()
    if threshold is None:
        scores = sorted((round(r["score"], 4) for r in naive), reverse=True)
        threshold = round((scores[7] + scores[8]) / 2, 4)
    expected = {
        r["url"]: round(r["score"], 4)
        for r in naive
        if round(r["score"], 4) >= threshold
    }
    got = {
        r["url"]: r["score"]
        for r in blocked_maxscore_threshold(
            spark, query, blocks, doc_stats_idx, n, threshold=threshold
        ).collect()
    }
    assert set(got) == set(expected), (threshold, len(got), len(expected))
    assert corpus == "random" or len(got) == 8
    for url, s in got.items():
        assert s == pytest.approx(expected[url], abs=1e-9)
    for df in (postings, blocks, doc_stats_idx):
        df.unpersist()


def test_low_latency_conf_restores_on_exception(spark):
    from google_like_search_engine_spark.engine import low_latency

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_sp = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with low_latency(spark, shuffle_partitions=3):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_sp


def test_url_dict_fast_path_escapes_hostile_urls(spark, tmp_path):
    """The driver-side forward-index path interpolates urls into a SQL
    VALUES literal; quotes and backslashes in crawled urls must survive
    byte-identically and match the distributed join path."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    urls = [
        "http://a/it's",
        'http://b/q="x"',
        "http://c/back\\slash",
        "http://d/plain",
    ]
    docs = spark.createDataFrame(
        [(str(i), u, f"common text plus unique{i} token") for i, u in enumerate(urls)],
        "doc_id string, url string, text string",
    )
    eng = SearchEngine(spark)
    eng.postings = build_postings(docs)
    eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    eng.term_df = eng.postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    eng.total_documents = 4
    eng._avgdl = float(
        eng.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0]
    )
    path = str(tmp_path / "blocked")
    eng.save_blocked(path)

    fast = [(r["url"], round(r["score"], 6))
            for r in eng.search_bm25_blocked(path, "common text", k=4).collect()]
    assert sorted(u for u, _ in fast) == sorted(urls)

    slow_eng = SearchEngine(spark)
    slow_eng.URL_DICT_CAP = -1  # force the distributed join path
    slow = [(r["url"], round(r["score"], 6))
            for r in slow_eng.search_bm25_blocked(path, "common text", k=4).collect()]
    assert fast == slow


def test_url_dict_invalidated_on_rebuild(spark, tmp_path):
    """Rebuilding a blocked index at the same path must refresh the
    cached driver-side forward index — a stale dict would resolve the
    new doc_indexes to the OLD corpus's urls."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    path = str(tmp_path / "blocked")

    def build(urls):
        eng = SearchEngine(spark)
        docs = spark.createDataFrame(
            [(str(i), u, f"shared token corpus{i}") for i, u in enumerate(urls)],
            "doc_id string, url string, text string",
        )
        eng.postings = build_postings(docs)
        eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        eng.term_df = eng.postings.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df")
        )
        eng.total_documents = len(urls)
        eng._avgdl = float(
            eng.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0]
        )
        eng.save_blocked(path)
        return eng

    eng = build(["http://old/0", "http://old/1"])
    got1 = {r["url"] for r in eng.search_bm25_blocked(path, "shared", k=5).collect()}
    assert got1 == {"http://old/0", "http://old/1"}

    # SAME engine instance, same path, new corpus
    eng2_urls = ["http://new/0", "http://new/1"]
    docs2 = spark.createDataFrame(
        [(str(i), u, f"shared token corpus{i}") for i, u in enumerate(eng2_urls)],
        "doc_id string, url string, text string",
    )
    eng.postings = build_postings(docs2)
    eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    eng.save_blocked(path)
    got2 = {r["url"] for r in eng.search_bm25_blocked(path, "shared", k=5).collect()}
    assert got2 == {"http://new/0", "http://new/1"}

    # sharded: the memoized deployment over [path, other] (its stats and
    # url masks) is dropped when merge_blocked_shards or
    # promote_stream_index rewrites one of its paths
    def docs_of(urls):
        return spark.createDataFrame(
            [(str(i), u, f"shared token corpus{i}") for i, u in enumerate(urls)],
            "doc_id string, url string, text string",
        )

    other = str(tmp_path / "other")
    o = SearchEngine(spark)
    o.postings = build_postings(docs_of(["http://other/0"]))
    o.doc_stats = o.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    o.save_blocked(other)

    def sharded():
        return [r["url"] for r in eng.search_bm25_sharded(
            [path, other], "shared", k=5).collect()]

    assert set(sharded()) == {"http://new/0", "http://new/1", "http://other/0"}
    eng.merge_blocked_shards([other], path)  # path now holds other's doc
    assert sharded() == ["http://other/0"]  # masked by the later shard
    store = str(tmp_path / "store")
    build_postings(docs_of(["http://stream/0", "http://stream/1"])).withColumn(
        "_batch_id", F.lit(0)
    ).write.parquet(store)
    eng.promote_stream_index(store, path)
    assert set(sharded()) == {"http://stream/0", "http://stream/1", "http://other/0"}


def test_blocked_required_excluded_filters(spark, tmp_path):
    """Blocked +/- filters: subset of the unfiltered result with
    identical scores; absent required term -> empty; absent excluded
    term -> no-op (served-path semantics)."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    rows = [
        ("0", "u0", "spark shuffle join alpha"),
        ("1", "u1", "spark shuffle beta"),
        ("2", "u2", "spark join gamma"),
        ("3", "u3", "spark shuffle join delta excluded"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, url string, text string")
    eng = SearchEngine(spark)
    eng.postings = build_postings(docs)
    eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    eng.term_df = eng.postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    eng.total_documents = 4
    eng._avgdl = float(eng.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0])
    path = str(tmp_path / "blocked")
    eng.save_blocked(path)

    full = {r["url"]: round(r["score"], 6)
            for r in eng.search_bm25_blocked(path, "spark shuffle", k=10).collect()}
    filt = {r["url"]: round(r["score"], 6)
            for r in eng.search_bm25_blocked(
                path, "spark shuffle", k=10,
                required=["join"], excluded=["excluded"]).collect()}
    # docs containing 'join' and not 'excluded': u0 and u2 (u2 scores
    # via its 'spark' hit); scores identical to the unfiltered run
    assert set(filt) == {"u0", "u2"}
    assert all(filt[u] == full[u] for u in filt)

    filt2 = {r["url"] for r in eng.search_bm25_blocked(
        path, "spark", k=10, required=["join"], excluded=["excluded"]).collect()}
    assert filt2 == {"u0", "u2"}

    assert eng.search_bm25_blocked(
        path, "spark", k=10, required=["zzznope"]).collect() == []
    noop = {r["url"] for r in eng.search_bm25_blocked(
        path, "spark", k=10, excluded=["zzznope"]).collect()}
    assert noop == {"u0", "u1", "u2", "u3"}


def test_sharded_search_equals_single_index(spark, tmp_path):
    """Scatter-gather over two independently built shards with global
    stats recombined from sidecars == one index over the union corpus
    (urls and scores to 1e-6, including terms living in one shard
    only and k exceeding the match count)."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    rows = [
        (str(i), f"u{i:02d}",
         " ".join(
             ["spark"] * (1 + i % 3)
             + ["shuffle"] * (i % 2)
             + ["join"] * (i % 4)
             + ([f"rare{i}"] if i % 5 == 0 else [])
             + (["onlyeven"] if i % 2 == 0 else [])
             + ["filler", f"tok{i % 7}"]
         ))
        for i in range(24)
    ]

    def build(subset, path):
        docs = spark.createDataFrame(
            subset, "doc_id string, url string, text string"
        )
        e = SearchEngine(spark)
        e.postings = build_postings(docs)
        e.doc_stats = e.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        e.term_df = e.postings.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df")
        )
        e.total_documents = len(subset)
        e._avgdl = float(
            e.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0]
        )
        e.save_blocked(path)
        return e

    full_path = str(tmp_path / "full")
    s0_path = str(tmp_path / "s0")
    s1_path = str(tmp_path / "s1")
    eng = build(rows, full_path)
    build([r for r in rows if int(r[0]) % 2 == 0], s0_path)
    build([r for r in rows if int(r[0]) % 2 == 1], s1_path)

    for query, k in [
        ("spark shuffle", 5),
        ("join filler", 8),
        ("onlyeven spark", 6),      # one query term lives only in shard 0
        ("rare0 rare5", 50),        # k far beyond the match count
    ]:
        single = [
            (r["url"], round(r["score"], 6))
            for r in eng.search_bm25_blocked(full_path, query, k=k).collect()
        ]
        sharded = [
            (r["url"], round(r["score"], 6))
            for r in eng.search_bm25_sharded(
                [s0_path, s1_path], query, k=k
            ).collect()
        ]
        assert sharded == single, (query, k)

    # +/- filters: per-shard application == single-index filtered run
    fs = [(r["url"], round(r["score"], 6))
          for r in eng.search_bm25_blocked(
              full_path, "spark shuffle", k=10,
              required=["join"], excluded=["onlyeven"]).collect()]
    fsh = [(r["url"], round(r["score"], 6))
           for r in eng.search_bm25_sharded(
               [s0_path, s1_path], "spark shuffle", k=10,
               required=["join"], excluded=["onlyeven"]).collect()]
    assert fsh == fs and fs  # nonempty

    # absent term everywhere -> empty
    assert eng.search_bm25_sharded([s0_path, s1_path], "zzznope").collect() == []

    # OVERLAPPING shards: a delta shard rewriting u00 masks the base
    # version even for queries only the stale text matches
    delta_path = str(tmp_path / "delta")
    build([("0", "u00", "freshterm content")], delta_path)
    spark_hits = {r["url"] for r in eng.search_bm25_sharded(
        [s0_path, s1_path, delta_path], "spark", k=50).collect()}
    assert "u00" not in spark_hits and spark_hits  # stale masked
    fresh_hits = {r["url"] for r in eng.search_bm25_sharded(
        [s0_path, s1_path, delta_path], "freshterm", k=10).collect()}
    assert fresh_hits == {"u00"}


def test_merge_blocked_shards_equals_single_and_respects_precedence(
    spark, tmp_path
):
    """Segment merge: (a) merging two disjoint shards reproduces the
    single-index answer url-and-score-exactly (incl. phrase search —
    positions survive the decode/re-encode round trip); (b) a later
    delta shard overrides an earlier shard's version of the same url."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    rows = [
        (str(i), f"u{i:02d}",
         " ".join(
             ["spark"] * (1 + i % 3) + ["shuffle"] * (i % 2)
             + ["join", "table", "scan"][: 1 + i % 3] + [f"tok{i % 5}"]
         ))
        for i in range(16)
    ]

    def build(subset, path):
        docs = spark.createDataFrame(
            subset, "doc_id string, url string, text string"
        )
        e = SearchEngine(spark)
        e.postings = build_postings(docs)
        e.doc_stats = e.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        e.term_df = e.postings.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df")
        )
        e.total_documents = len(subset)
        e._avgdl = float(
            e.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0]
        )
        e.save_blocked(path)
        return e

    full_p, s0_p, s1_p = (str(tmp_path / n) for n in ("full", "s0", "s1"))
    eng = build(rows, full_p)
    build([r for r in rows if int(r[0]) % 2 == 0], s0_p)
    build([r for r in rows if int(r[0]) % 2 == 1], s1_p)

    merged_p = str(tmp_path / "merged")
    eng.merge_blocked_shards([s0_p, s1_p], merged_p)

    for query in ("spark shuffle", "join scan"):
        single = [(r["url"], round(r["score"], 6)) for r in
                  eng.search_bm25_blocked(full_p, query, k=8).collect()]
        merged = [(r["url"], round(r["score"], 6)) for r in
                  eng.search_bm25_blocked(merged_p, query, k=8).collect()]
        assert merged == single, query
    ph_single = sorted(
        (r["url"], r["n_occurrences"]) for r in
        eng.search_phrase_blocked(full_p, "table scan", k=100).collect())
    ph_merged = sorted(
        (r["url"], r["n_occurrences"]) for r in
        eng.search_phrase_blocked(merged_p, "table scan", k=100).collect())
    assert ph_merged == ph_single and ph_single  # nonempty

    # precedence: delta shard rewrites u00 to contain 'fresh' only
    delta_p = str(tmp_path / "delta")
    build([("0", "u00", "fresh content only")], delta_p)
    upd_p = str(tmp_path / "updated")
    eng.merge_blocked_shards([s0_p, s1_p, delta_p], upd_p)
    fresh = {r["url"] for r in
             eng.search_bm25_blocked(upd_p, "fresh", k=10).collect()}
    stale = {r["url"] for r in
             eng.search_bm25_blocked(upd_p, "spark", k=100).collect()}
    assert fresh == {"u00"} and "u00" not in stale


def test_sharded_phrase_and_threshold_equal_single(spark, tmp_path):
    """Federated phrase counts (shard-local, no stats) and federated
    threshold search (global stats + df override) both reproduce the
    single-index answers exactly."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    rows = [
        (str(i), f"u{i:02d}",
         " ".join(
             (["table", "scan"] * (1 + i % 2))
             + (["spark"] * (1 + i % 3) if i % 2 else ["flink"])
             + [f"tok{i % 5}"]
         ))
        for i in range(18)
    ]

    def build(subset, path):
        docs = spark.createDataFrame(
            subset, "doc_id string, url string, text string"
        )
        e = SearchEngine(spark)
        e.postings = build_postings(docs)
        e.doc_stats = e.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        e.save_blocked(path)

    full_p, s0_p, s1_p = (str(tmp_path / n) for n in ("full", "s0", "s1"))
    build(rows, full_p)
    build([r for r in rows if int(r[0]) % 2 == 0], s0_p)
    build([r for r in rows if int(r[0]) % 2 == 1], s1_p)
    eng = SearchEngine(spark)

    ph_single = [(r["url"], r["n_occurrences"]) for r in
                 eng.search_phrase_blocked(full_p, "table scan", k=12).collect()]
    ph_shard = [(r["url"], r["n_occurrences"]) for r in
                eng.search_phrase_sharded([s0_p, s1_p], "table scan", k=12).collect()]
    assert ph_shard == ph_single and ph_single

    th_single = sorted(
        (r["url"], round(r["score"], 6)) for r in
        eng.search_bm25_threshold_blocked(full_p, "spark scan", 0.5).collect())
    th_shard = sorted(
        (r["url"], round(r["score"], 6)) for r in
        eng.search_bm25_threshold_sharded([s0_p, s1_p], "spark scan", 0.5).collect())
    assert th_shard == th_single and th_single


def test_boolean_blocked_equals_flat(spark, tmp_path):
    """Boolean queries served off the blocked layout == the flat-path
    answers: AND/OR/NOT, pure negation, wildcard prefixes, and ranked
    mode (BM25 over positive exact terms)."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    rows = [
        (str(i), f"u{i:02d}",
         " ".join(
             ["alpha"] * (1 + i % 2)
             + (["beta"] if i % 3 == 0 else ["gamma"])
             + (["sigma", "sigmoid"][i % 2:i % 2 + 1])
             + [f"tok{i % 4}"]
         ))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, url string, text string")
    eng = SearchEngine(spark)
    eng.postings = build_postings(docs)
    eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    eng.term_df = eng.postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    eng.total_documents = 20
    eng._avgdl = float(eng.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0])
    path = str(tmp_path / "blocked")
    eng.save_blocked(path)

    for q in [
        "alpha AND beta",
        "beta OR gamma AND NOT tok1",
        "NOT beta",
        "sig* AND alpha",
        "alpha AND NOT zzznope",
    ]:
        flat = [r["url"] for r in eng.search_boolean(q, k=50).collect()]
        blk = [r["url"] for r in
               eng.search_boolean_blocked(path, q, k=50).collect()]
        assert blk == flat, q

    for q in ["alpha AND beta", "beta OR gamma"]:
        flat = [(r["url"], round(r["score"], 6)) for r in
                eng.search_boolean(q, k=50, ranked=True).collect()]
        blk = [(r["url"], round(r["score"], 6)) for r in
               eng.search_boolean_blocked(path, q, k=50, ranked=True).collect()]
        assert blk == flat, q

    # federation: two url-hash shards reproduce the single-index
    # boolean answers (unranked match set and globally-ranked mode)
    s0_p, s1_p = str(tmp_path / "bs0"), str(tmp_path / "bs1")
    shard_of = F.pmod(F.xxhash64("url"), F.lit(2))
    for i, sp in enumerate((s0_p, s1_p)):
        se = SearchEngine(spark)
        se.postings = eng.postings.where(shard_of == i)
        se.doc_stats = eng.doc_stats.where(shard_of == i)
        se.save_blocked(sp)
    for q in ["beta OR gamma AND NOT tok1", "NOT beta", "sig* AND alpha"]:
        single = [r["url"] for r in
                  eng.search_boolean_blocked(path, q, k=50).collect()]
        fed = [r["url"] for r in
               eng.search_boolean_sharded([s0_p, s1_p], q, k=50).collect()]
        assert fed == single, q
    for q in ["alpha AND beta", "beta OR gamma"]:
        single = [(r["url"], round(r["score"], 6)) for r in
                  eng.search_boolean_blocked(path, q, k=50, ranked=True).collect()]
        fed = [(r["url"], round(r["score"], 6)) for r in
               eng.search_boolean_sharded(
                   [s0_p, s1_p], q, k=50, ranked=True).collect()]
        assert fed == single, q


def test_warm_blocked_query_is_one_spark_job(spark, tmp_path):
    """Pin the serving-latency claim structurally: a WARM blocked BM25
    query under the low-latency scope costs exactly ONE Spark job (the
    top-k collect; url resolution is the driver-side dict and the
    result is a VALUES LocalRelation). A regression that reintroduces
    the AQE per-shuffle job floor or a createDataFrame round-trip
    shows up here as job count, independent of host-epoch timing."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.corpus import generate_pages
    from google_like_search_engine_spark.engine import SearchEngine

    pages = generate_pages(spark, 150).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    out = str(tmp_path / "blocked")
    eng.save_blocked(out)
    try:
        with eng.low_latency():
            eng.search_bm25_blocked(out, "search engine", k=10).collect()
            sc = spark.sparkContext
            for q in ("index merge", "web page", "search engine index"):
                with spark_jobs(sc) as jobs:
                    rows = eng.search_bm25_blocked(out, q, k=10).collect()
                assert jobs() == 1, (q, jobs())
                assert rows  # nonempty on this corpus
    finally:
        eng.unpersist()


def test_sharded_mask_overfetch_keeps_live_docs(spark, tmp_path):
    """Overlapping base+delta: when a base shard's top-k slots are
    occupied by urls a later shard supersedes, the shard must
    over-fetch so live docs ranked below them still reach the driver
    merge — pinned row-identical to the merged single index."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings

    def build(subset, path):
        docs = spark.createDataFrame(
            subset, "doc_id string, url string, text string"
        )
        e = SearchEngine(spark)
        e.postings = build_postings(docs)
        e.doc_stats = e.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        e.term_df = e.postings.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df")
        )
        e.total_documents = len(subset)
        e._avgdl = float(
            e.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0]
        )
        e.save_blocked(path)
        return e

    # base: d0/d1 score highest on "hot" (max tf, short docs); d2..d5
    # are the live lower-ranked matches the old truncate-then-mask
    # federation lost
    base_rows = [
        ("0", "u00", "hot hot hot hot"),
        ("1", "u01", "hot hot hot hot"),
    ] + [
        (str(i), f"u{i:02d}", "hot filler filler filler") for i in range(2, 6)
    ]
    # delta rewrites u00/u01 with text that does NOT match the query
    delta_rows = [("0", "u00", "fresh other"), ("1", "u01", "fresh other")]
    base_path = str(tmp_path / "base")
    delta_path = str(tmp_path / "delta")
    full_path = str(tmp_path / "full")
    build(base_rows, base_path)
    build(delta_rows, delta_path)
    # the merged live state: delta's versions of u00/u01 + base's rest
    eng = build(delta_rows + base_rows[2:], full_path)

    # url identity, not score identity: overlapping shards' global
    # stats count superseded copies until compaction (the documented
    # segment-store drift), so scores differ from the live single
    # index while the returned DOCUMENTS must not
    for k in (1, 2, 3):
        single = [
            r["url"]
            for r in eng.search_bm25_blocked(full_path, "hot", k=k).collect()
        ]
        sharded = [
            r["url"]
            for r in eng.search_bm25_sharded(
                [base_path, delta_path], "hot", k=k
            ).collect()
        ]
        assert sharded == single and len(single) == k, k


@pytest.fixture(scope="module")
def url_hash_shards(spark, tmp_path_factory):
    """A small corpus saved whole and as two url-hash shards."""
    root = tmp_path_factory.mktemp("url_hash_shards")
    eng = SearchEngine(spark)
    eng.postings = build_postings(_random_docs(spark, n=60, seed=7)).persist()
    eng.doc_stats = eng.postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    ).persist()
    eng.total_documents = 60
    full = str(root / "full")
    eng.save_blocked(full)
    paths = []
    shard_of = F.pmod(F.xxhash64("url"), F.lit(2))
    for i in range(2):
        se = SearchEngine(spark)
        se.postings = eng.postings.where(shard_of == i)
        se.doc_stats = eng.doc_stats.where(shard_of == i)
        paths.append(str(root / f"s{i}"))
        se.save_blocked(paths[-1])
    yield eng, full, paths
    eng.unpersist()


def test_sharded_fanout_jobs_stay_in_caller_job_group(spark, url_hash_shards):
    """Shard fan-out runs on pool threads; their Spark jobs must carry
    the caller's job group, or statusTracker pins and job-group
    cancellation miss them. A warm 2-shard query records exactly the
    jobs of its two one-shard runs, for BM25 and for phrase search."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    sc = spark.sparkContext

    def jobs(run, shard_paths, query):
        run(shard_paths, query, k=10).collect()  # warm the handles
        with spark_jobs(sc) as count:
            assert run(shard_paths, query, k=10).collect()
        return count()

    try:
        with eng.low_latency():
            for run, query in (
                (eng.search_bm25_sharded, "spark shuffle"),
                (eng.search_phrase_sharded, "spark"),
            ):
                one = [jobs(run, [p], query) for p in paths]
                assert min(one) >= 1 and jobs(run, paths, query) == sum(one), one
    finally:
        eng.unpersist()


def test_sharded_over_dict_cap_reads_term_rows(spark, url_hash_shards):
    """Shards whose dictionary exceeds DICT_CAP keep it on disk and a
    query reads only its terms' term_stats rows: sharded over [s0, s1]
    == blocked over the union == the flat score_bm25 top-k."""
    eng, full, paths = url_hash_shards
    capped = SearchEngine(spark)
    capped.DICT_CAP = 1
    try:
        for query, k in [("spark shuffle", 8), ("index merge join", 5), ("table rank", 12)]:
            flat = [
                (r["url"], round(r["score"], 6))
                for r in score_bm25(
                    spark, query, eng.postings, eng.doc_stats, eng.total_documents
                ).limit(k).collect()
            ]
            blocked = [(r["url"], round(r["score"], 6))
                       for r in capped.search_bm25_blocked(full, query, k=k).collect()]
            sharded = [(r["url"], round(r["score"], 6))
                       for r in capped.search_bm25_sharded(paths, query, k=k).collect()]
            assert sharded == blocked == flat and flat, query
        assert all(capped._blocked_handles(p).term_stats is None for p in [full] + paths)
    finally:
        capped.unpersist()


def test_concurrent_first_queries_share_one_deployment(spark, tmp_path):
    """Server threads race to open the same shard set. Every thread gets
    the same answer, and the memoized deployment holds exactly the
    handles the engine caches: a lost update would leave it on an
    orphaned doc-stats cache that invalidation never unpersists."""
    import sys
    import threading

    paths = []
    for i in range(2):
        docs = spark.createDataFrame(
            [(f"{i}{j}", f"http://s{i}/{j}", f"shared token t{j}") for j in range(3)],
            "doc_id string, url string, text string",
        )
        se = SearchEngine(spark)
        se.postings = build_postings(docs)
        se.doc_stats = se.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        paths.append(str(tmp_path / f"s{i}"))
        se.save_blocked(paths[-1])

    eng = SearchEngine(spark)
    results, errors = [], []

    def query():
        try:
            rows = eng.search_bm25_sharded(paths, "shared", k=10).collect()
            results.append(sorted(r["url"] for r in rows))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=query) for _ in range(12)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    want = sorted(f"http://s{i}/{j}" for i in range(2) for j in range(3))
    assert results == [want] * len(threads)
    dep = eng._deployments[tuple(paths)]
    assert all(s is eng._blocked_cache[p] for p, s in zip(paths, dep.shards))
    eng.unpersist()


def test_positional_topk_matches_flat_positions(spark):
    """Phrase and proximity counts off the one-text positional core
    equal a plain-Python check over the flat postings' positions. A
    4-doc block span splits the corpus into ten block groups, and the
    rare term ``stream`` is missing from half of them (their docs lack
    a word, so none qualifies). Repeated words count as the reference
    counts them: a phrase ``a b a`` needs ``a`` at both ends, and a
    repeated proximity partner is one condition."""
    import random

    from google_like_search_engine_spark.wand import (
        blocked_phrase_topk,
        blocked_proximity_topk,
    )

    rng = random.Random(41)
    rows = []
    for i in range(40):
        words = [rng.choice(["spark", "index", "table", "query"])
                 for _ in range(rng.randint(3, 12))]
        if i % 9 == 0:
            words.insert(rng.randint(0, len(words)), "stream")
        rows.append((f"d{i:02d}", f"u{i:02d}", " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id string, url string, text string")
    postings = build_postings(docs).persist()
    idx = assign_doc_indexes(docs).persist()
    blocks = block_postings(postings.join(idx, "doc_id"), block_span=4).persist()
    dsi = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .join(idx, "doc_id")
        .select("doc_index", "url", "n_term_entries")
        .persist()
    )
    pos: dict = {}
    for r in postings.select("url", "term", "positions").collect():
        pos.setdefault(r["url"], {})[r["term"]] = set(r["positions"])
    all_blocks = {r["block_id"] for r in blocks.select("block_id").collect()}
    rare_blocks = {
        r["block_id"]
        for r in blocks.where(F.col("term") == "stream").select("block_id").collect()
    }
    assert len(all_blocks) == 10 and len(rare_blocks) == 5

    def phrase_ref(words):
        return {
            url: n
            for url, terms in pos.items()
            if all(w in terms for w in words)
            for n in [sum(
                all(x + j in terms[w] for j, w in enumerate(words))
                for x in terms[words[0]]
            )]
            if n
        }

    def near_ref(words, window):
        return {
            url: n
            for url, terms in pos.items()
            if all(w in terms for w in words)
            for n in [sum(
                all(any(abs(y - x) <= window for y in terms[w]) for w in words[1:])
                for x in terms[words[0]]
            )]
            if n
        }

    for phrase in ["spark index", "table table", "spark spark spark",
                   "index query table", "stream spark", "spark stream",
                   "spark index spark", "table query table spark"]:
        got = {
            r["url"]: r["n_occurrences"]
            for r in blocked_phrase_topk(spark, phrase, blocks, dsi, k=1000).collect()
        }
        assert got == phrase_ref(phrase.split()), phrase
    for terms in (["spark", "table"], ["table", "table"], ["stream", "spark", "index"],
                  ["spark", "table", "table"], ["query", "spark", "index", "spark"]):
        for window in range(4):
            got = {
                r["url"]: r["n_matches"]
                for r in blocked_proximity_topk(
                    spark, terms, window, blocks, dsi, k=1000
                ).collect()
            }
            assert got == near_ref(terms, window), (terms, window)
    for df in (postings, idx, blocks, dsi):
        df.unpersist()


def test_filtered_bm25_sharded_equals_blocked_equals_flat(spark, url_hash_shards):
    """+/- filtered BM25: sharded over [s0, s1] == blocked over the
    union == ranker.score_bm25 filtered in Python, for a required term
    that is also a query word, one that is not, and an excluded head
    term."""
    eng, full, paths = url_hash_shards
    terms_of: dict = {}
    for r in eng.postings.select("url", "term").collect():
        terms_of.setdefault(r["url"], set()).add(r["term"])
    cases = [
        ("spark shuffle", ["spark"], []),
        ("index merge", ["table"], []),
        ("table rank", [], ["spark"]),
        ("query join", ["row"], ["block"]),
    ]
    k = 8
    for query, req, exc in cases:
        flat = [
            (r["url"], r["score"])
            for r in score_bm25(spark, query, eng.postings, eng.doc_stats, 60).collect()
            if all(w in terms_of[r["url"]] for w in req)
            and not any(w in terms_of[r["url"]] for w in exc)
        ][:k]
        assert flat, query
        for got in (
            eng.search_bm25_blocked(full, query, k=k, required=req, excluded=exc),
            eng.search_bm25_sharded(paths, query, k=k, required=req, excluded=exc),
        ):
            got = [(r["url"], r["score"]) for r in got.collect()]
            assert [u for u, _s in got] == [u for u, _s in flat], (query, req, exc)
            for (_u, a), (_v, b) in zip(got, flat):
                assert a == pytest.approx(b, rel=1e-9)


def test_warm_positional_and_filtered_queries_are_one_job_per_shard(
    spark, url_hash_shards
):
    """Phrase, proximity and +/- filtered BM25 each run one grouped
    pass per shard: one Spark job on each shard, two over both."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    sc = spark.sparkContext
    queries = [
        lambda p: eng.search_phrase_sharded(p, "spark index", k=10),
        lambda p: eng.search_proximity_sharded(p, ["spark", "table"], window=2, k=10),
        lambda p: eng.search_bm25_sharded(
            p, "spark shuffle", k=10, required=["index"], excluded=["merge"]
        ),
    ]
    try:
        with eng.low_latency():
            for i, run in enumerate(queries):
                for shard_paths in [[p] for p in paths] + [paths]:
                    run(shard_paths).collect()  # warm the handles
                    with spark_jobs(sc) as jobs:
                        assert run(shard_paths).collect()
                    assert jobs() == len(shard_paths), (i, shard_paths, jobs())
    finally:
        eng.unpersist()


def test_threshold_uses_deployment_dictionary(spark, url_hash_shards):
    """/threshold reads df from the deployment's dictionary (no
    block-metadata aggregation job per shard) and scores each shard in
    ONE SQL text cut by rounded score, so this 2-shard threshold query
    runs 2 jobs, one per shard (12 under MaxScore pruning, 16 when each
    shard aggregated its own term stats), and the answer is the single
    index's."""
    _eng, full, paths = url_hash_shards
    eng = SearchEngine(spark)
    sc = spark.sparkContext
    try:
        with eng.low_latency():
            want = sorted(
                (r["url"], r["score"]) for r in
                eng.search_bm25_threshold_blocked(full, "spark shuffle", 0.5).collect()
            )
            eng.search_bm25_threshold_sharded(paths, "spark shuffle", 0.5).collect()
            with spark_jobs(sc) as jobs:
                got = sorted(
                    (r["url"], r["score"]) for r in
                    eng.search_bm25_threshold_sharded(paths, "spark shuffle", 0.5).collect()
                )
            assert got == want and got
            assert jobs() == 2, jobs()
    finally:
        eng.unpersist()


def test_no_hit_results_collect_with_zero_jobs(spark, url_hash_shards):
    """An empty result is a LocalRelation: collecting a no-hit BM25 or
    phrase answer schedules no Spark job."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    sc = spark.sparkContext
    try:
        for res in (
            eng.search_bm25_sharded(paths, "zzznope", k=10),
            eng.search_phrase_sharded(paths, "spark zzznope", k=10),
        ):
            with spark_jobs(sc) as jobs:
                assert res.collect() == []
            assert jobs() == 0, res.columns
    finally:
        eng.unpersist()


def _column_topk(rows, key, words, idf, avgdl, required=(), excluded=(), k=10):
    """The Column-chain form of wand.bm25_sql's per-doc top-k — the
    plan the served and blocked paths built before the SQL text — over
    (``key``, term, tf, dl) rows: one partial per row, summed per doc,
    with the +/- presence flags when filtered; idf is a literal map
    looked up by the term column."""
    from google_like_search_engine_spark.wand import bm25_partial

    idf_col = F.create_map(*[x for t in idf for x in (F.lit(t), F.lit(idf[t]))])[
        F.col("term")
    ]
    partial = bm25_partial(F.col("tf"), F.col("dl"), idf_col, avgdl)
    scored = rows.select(key, "term", partial.alias("partial"))
    if not (required or excluded):
        per_doc = scored.groupBy(key).agg(F.sum("partial").alias("score"))
    else:
        keep, flags = F.col("score").isNotNull(), []
        for i, w in enumerate(sorted(set(required))):
            flags.append(F.max(F.col("term") == w).alias(f"_req{i}"))
            keep &= F.col(f"_req{i}")
        if excluded:
            flags.append(F.max(F.col("term").isin(sorted(set(excluded)))).alias("_exc"))
            keep &= ~F.col("_exc")
        score = F.sum(F.when(F.col("term").isin(list(words)), F.col("partial")))
        per_doc = (
            scored.groupBy(key).agg(score.alias("score"), *flags)
            .where(keep).select(key, "score")
        )
    return per_doc.orderBy(F.desc("score"), F.asc(key)).limit(k).collect()


_IDENTITY_CASES = [
    ("spark shuffle", [], []),
    ("index merge join table", [], []),
    ("stream block batch rank", [], []),
    ("spark shuffle", ["index"], []),
    ("index merge join table", [], ["spark"]),
    ("query join", ["row"], ["block"]),
]


def test_sql_text_matches_column_kernel_bit_for_bit(spark, url_hash_shards):
    """The one-SQL-text BM25 kernel (wand.bm25_sql) gives the Column
    kernel's urls and scores bit for bit (==, no tolerance), with and
    without +/- filters, on a served, a blocked and a 2-shard index.
    The Column kernel is the chain the paths built before the text
    (``_column_topk``) under the same stats: over the shard's decoded
    entries per shard, merged by (score desc, url), and over the served
    relation."""
    from google_like_search_engine_spark.compression import scoring_entries
    from google_like_search_engine_spark.ranker import expand_query
    from google_like_search_engine_spark.wand import bm25_idf

    base, full, paths = url_hash_shards
    eng = SearchEngine(spark)
    served = SearchEngine(spark)
    served.postings, served.doc_stats, served.total_documents = (
        base.postings, base.doc_stats, 60
    )
    served.term_df = base.postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    served._avgdl = float(base.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0])
    assert served.enable_serving()

    def shard_reference(dep, i, words, req, exc):
        infos, df = dep.lookup(words + req + exc)
        info, lookup = infos[i], dep.url_lookups[i]
        idf = {w: bm25_idf(float(dep.n), df[w]) for w in words if w in info}
        if not idf or any(w not in info for w in req):
            return []
        rows = scoring_entries(
            dep.shards[i].blocks.drop("term_bucket")
            .where(F.col("term").isin(sorted({*words, *req, *exc})))
        )
        got = _column_topk(rows, "doc_index", words, idf, dep.avgdl, req, exc)
        return [(lookup[r["doc_index"]], r["score"]) for r in got]

    try:
        for query, req, exc in _IDENTITY_CASES:
            words = sorted({w.lower() for w in expand_query(query)})
            hit = [w for w in words if w in served._dict]
            got = [tuple(r) for r in served.search_bm25_served(
                query, k=10, required=req, excluded=exc).collect()]
            srows = served._served.where(
                F.col("term").isin(sorted({*hit, *req, *exc}))
            ).select("url", "term", "tf", F.col("n_term_entries").alias("dl"))
            want = _column_topk(
                srows, "url", hit,
                {w: bm25_idf(60.0, served._dict[w]) for w in hit},
                served._avgdl, req, exc,
            )
            assert got == [tuple(r) for r in want] and got, (query, req, exc)
            for shard_paths in ([full], paths):
                got = [tuple(r) for r in eng.search_bm25_sharded(
                    shard_paths, query, k=10, required=req, excluded=exc).collect()]
                dep = eng._deployment(shard_paths)
                merged = [
                    row for i in range(len(shard_paths))
                    for row in shard_reference(dep, i, words, req, exc)
                ]
                want = sorted(merged, key=lambda x: (-x[1], x[0]))[:10]
                assert got == want and got, (query, req, exc, shard_paths)
    finally:
        served._served.unpersist()
        eng.unpersist()


def test_sql_text_quotes_hostile_terms(spark, url_hash_shards):
    """Query words and +/- terms are user input spliced into the SQL
    text as string literals: quotes, backslashes and comment markers in
    them stay data. So does ``${var}``, which Spark substitutes in the
    raw text before parsing: a word or -term naming a variable (here one
    set to the indexed word "spark") is the literal, unindexed term.
    Words the index lacks add nothing, so the answer is the plain
    query's, on one index and on two shards, and over the flat postings
    with the dictionary (search_bm25) and without it (score_bm25). The
    phrase and proximity texts splice words in as map keys and IN-list
    entries: run straight over the blocks, a phrase or proximity query
    naming a hostile word matches nothing, where the same query with
    "spark" in its place matches."""
    from google_like_search_engine_spark import sqltext

    base, full, paths = url_hash_shards
    eng = SearchEngine(spark)
    flat = SearchEngine(spark)
    flat.postings, flat.doc_stats, flat.total_documents = base.postings, base.doc_stats, 60
    flat.term_df = base.postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    flat._avgdl = float(base.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0])
    hostile = ["it's", "back\\slash", "x') OR ('1'='1", "--", "/*",
               "${spark.sql.shuffle.partitions}", "${env:PATH}", "${sg.hostile}"]
    for v in [*hostile, "$", "${", "a$b", "\\u0024"]:
        assert spark.sql(f"SELECT {sqltext.quote(v)}").collect()[0][0] == v
    spark.conf.set("sg.hostile", "spark")
    try:
        for index in ([full], paths):
            want = [tuple(r) for r in eng.search_bm25_sharded(index, "spark").collect()]
            got = eng.search_bm25_sharded(
                index, " ".join(["spark", *hostile]), excluded=hostile
            ).collect()
            assert [tuple(r) for r in got] == want and want, index
        for run in (
            lambda q: flat.search_bm25(q, k=60),
            lambda q: score_bm25(spark, q, base.postings, base.doc_stats, 60),
        ):
            want = [tuple(r) for r in run("spark").collect()]
            got = run(" ".join(["spark", *hostile])).collect()
            assert [tuple(r) for r in got] == want and want
        shard = eng._blocked_handles(full)

        def positional(topk, words, *args):
            return topk(spark, words, *args, shard.blocks, shard.doc_stats_idx,
                        k=60).collect()

        for word in hostile:
            for topk, words, args in (
                (blocked_phrase_topk, "spark {}", ()),
                (blocked_phrase_topk, "{} spark", ()),
                (blocked_proximity_topk, ["spark", "{}"], (3,)),
                (blocked_proximity_topk, ["{}", "spark"], (3,)),
            ):
                fill = (words.format if isinstance(words, str)
                        else lambda w: [t.format(w) for t in words])
                assert positional(topk, fill("spark"), *args), (topk, words)
                assert positional(topk, fill(word), *args) == [], (topk, words, word)
        assert eng.search_phrase_sharded(paths, " ".join(hostile)).collect() == []
        assert eng.search_proximity_sharded(paths, hostile, window=3).collect() == []
    finally:
        spark.conf.unset("sg.hostile")
        eng.unpersist()


def _engine_shard_call(eng, path, query, **kw):
    """``run()`` makes the call search_bm25_sharded makes for a one-shard
    deployment — blocked_maxscore_topk over the pruned shard scan with
    the shard's dictionary, url lookup and sized exchange hint — and returns
    its lazy DataFrame."""
    from google_like_search_engine_spark.ranker import expand_query

    words = sorted({w.lower() for w in expand_query(query)})
    shard = eng._blocked_handles(path)
    lookup = eng._blocked_url_dict(path)
    ts = {w: v for w, v in shard.term_stats.items() if w in words}

    def run():
        return blocked_maxscore_topk(
            eng.spark, query, eng._shard_scan(shard, ts), shard.doc_stats_idx,
            shard.total, k=10, doc_stats_agg=shard.stats, term_stats=ts,
            url_lookup=lookup, partitions=eng._exchange_parts(shard), **kw,
        )

    return run


def test_shard_topk_schema_is_the_same_when_empty(spark, url_hash_shards):
    """With a url lookup a shard top-k is keyed by doc_index whatever
    the query: a hit, a query without words, one the shard lacks and an
    empty phrase all return (doc_index, value) columns."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    try:
        for query in ("spark shuffle", "", "nosuchterm"):
            df = _engine_shard_call(eng, paths[0], query)()
            assert df.columns == ["doc_index", "score"], query
        shard = eng._blocked_handles(paths[0])
        for phrase in ("spark index", ""):
            df = blocked_phrase_topk(
                spark, phrase, eng._shard_scan(shard, {}), shard.doc_stats_idx,
                url_lookup=eng._blocked_url_dict(paths[0]),
            )
            assert df.columns == ["doc_index", "n_occurrences"], phrase
    finally:
        eng.unpersist()


def test_warm_shard_bm25_query_is_one_sql_text(spark, url_hash_shards):
    """A warm 2-word shard BM25 query, plain or +/- filtered, is built
    as ONE spark.sql text and runs with at most 40 py4j commands in
    all (construction, the shard scan's pruning, collect); the Column
    chain it replaces sent ~200. Its rows come straight from that
    collect, keyed by doc_index, and resolve through the url lookup."""
    from tests.conftest import py4j_calls

    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    try:
        with eng.low_latency():
            want = [tuple(r) for r in eng.search_bm25_blocked(paths[0], "spark shuffle").collect()]
            for kw in ({}, {"required": ["index"], "excluded": ["merge"]}):
                run = _engine_shard_call(eng, paths[0], "spark shuffle", **kw)
                run().collect()
                with py4j_calls(spark.sparkContext) as calls:
                    rows = run().collect()
                assert calls("sql") == 1 and calls() <= 40, (kw, calls())
                assert rows and rows[0][0] in eng._blocked_url_dict(paths[0])
                if not kw:
                    lookup = eng._blocked_url_dict(paths[0])
                    assert [(lookup[d], s) for d, s in rows] == want
    finally:
        eng.unpersist()


def test_warm_shard_positional_query_is_one_sql_text(spark, url_hash_shards):
    """A warm shard phrase or proximity query, called as the engine
    calls it (pruned scan, url lookup, sized aggregation), is built as
    ONE spark.sql text and runs with at most 40 py4j commands in all;
    the grouped pandas pass it replaces sent ~275. Its rows are the
    engine's answer, keyed by doc_index."""
    from tests.conftest import py4j_calls

    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    try:
        with eng.low_latency():
            shard = eng._blocked_handles(paths[0])
            lookup = eng._blocked_url_dict(paths[0])
            info = eng._shard_terms(paths[0], shard, ["index", "spark", "table"])
            runs = {
                "phrase": (
                    lambda: blocked_phrase_topk(
                        spark, "spark index", eng._shard_scan(shard, info),
                        shard.doc_stats_idx, url_lookup=lookup,
                        partitions=eng._exchange_parts(shard),
                    ),
                    eng.search_phrase_blocked(paths[0], "spark index"),
                ),
                "proximity": (
                    lambda: blocked_proximity_topk(
                        spark, ["spark", "table"], 2, eng._shard_scan(shard, info),
                        shard.doc_stats_idx, url_lookup=lookup,
                        partitions=eng._exchange_parts(shard),
                    ),
                    eng.search_proximity_blocked(paths[0], ["spark", "table"], 2),
                ),
            }
            for name, (run, engine_answer) in runs.items():
                run().collect()
                with py4j_calls(spark.sparkContext) as calls:
                    rows = run().collect()
                assert calls("sql") == 1 and calls() <= 40, (name, calls())
                want = [tuple(r) for r in engine_answer.collect()]
                assert [(lookup[d], n) for d, n in rows] == want and want, name
    finally:
        eng.unpersist()


def test_shard_exchange_is_sized_to_the_shard(spark, url_hash_shards):
    """A per-shard query's exchange is sized from the shard's doc count
    over its recorded meta.block_span: a test shard (~30 docs, one
    block group) coalesces its scan to ONE partition for BM25 (plain
    and filtered) and phrase, so the plan has no exchange at all,
    though the session default is 8. Above one partition the text
    shuffles on doc_index into that many."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    try:
        with eng.low_latency():
            shard = eng._blocked_handles(paths[0])
            assert shard.block_span == 8192 and eng._exchange_parts(shard) == 1
            info = eng._shard_terms(paths[0], shard, ["index", "spark"])
            plans = [
                _engine_shard_call(eng, paths[0], "spark shuffle")(),
                _engine_shard_call(
                    eng, paths[0], "spark shuffle", required=["index"]
                )(),
                blocked_phrase_topk(
                    spark, "spark index", eng._shard_scan(shard, info),
                    shard.doc_stats_idx, url_lookup=eng._blocked_url_dict(paths[0]),
                    partitions=eng._exchange_parts(shard),
                ),
            ]
            for df in plans:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in plan and "Coalesce 1" in plan, plan
            wide = blocked_phrase_topk(
                spark, "spark index", eng._shard_scan(shard, info),
                shard.doc_stats_idx, url_lookup=eng._blocked_url_dict(paths[0]),
                partitions=3,
            )
            plan = wide._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(doc_index" in plan, plan
            assert plan.count("Exchange") == 1 and "Coalesce" not in plan, plan
    finally:
        eng.unpersist()


def test_warm_shard_queries_are_one_stage_per_job(spark, url_hash_shards):
    """Over shards of one block group, a warm 2-shard /search and
    /phrase run one Spark job per shard, each of ONE stage: the scan,
    the per-doc aggregation and the top-k share a stage (the shard
    text coalesces instead of shuffling), and the phrase plan runs no
    Python worker."""
    _eng, _full, paths = url_hash_shards
    eng = SearchEngine(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    queries = {
        "search": lambda: eng.search_bm25_sharded(paths, "spark shuffle", k=10),
        "phrase": lambda: eng.search_phrase_sharded(paths, "spark index", k=10),
    }
    try:
        with eng.low_latency():
            for name, run in queries.items():
                run().collect()  # warm the handles
                group = f"stages_{name}"
                sc.setJobGroup(group, "stage count probe")
                try:
                    assert run().collect(), name
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                jobs = tracker.getJobIdsForGroup(group)
                stages = [len(tracker.getJobInfo(j).stageIds) for j in jobs]
                assert len(jobs) == len(paths) and stages == [1] * len(jobs), (
                    name, stages,
                )
            shard = eng._blocked_handles(paths[0])
            info = eng._shard_terms(paths[0], shard, ["index", "spark"])
            plan = blocked_phrase_topk(
                spark, "spark index", eng._shard_scan(shard, info),
                shard.doc_stats_idx, url_lookup=eng._blocked_url_dict(paths[0]),
                partitions=eng._exchange_parts(shard),
            )._jdf.queryExecution().executedPlan().toString()
            assert "FlatMapGroupsInPandas" not in plan, plan
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    finally:
        eng.unpersist()


def test_warm_topk_over_100k_entries_is_one_job(spark):
    """A query matching 105k postings (35k docs x 3 terms, 5 block
    groups at block_span 8192) runs the same one SQL text as a small
    one: called as the engine calls it (dictionary, sidecar avgdl, url
    lookup), a warm top-k is ONE Spark job (MaxScore pruning ran 4),
    and its urls are the naive scorer's. Docs 0-9 repeat every term 2-11
    times, so the top 10 are distinct and far above the tied rest."""
    from google_like_search_engine_spark.engine import low_latency

    docs = spark.range(35_000).selectExpr(
        "format_string('http://x.com/%05d.html', id) AS doc_id",
        "format_string('http://x.com/%05d.html', id) AS url",
        "CASE WHEN id < 10 THEN trim(repeat('alpha beta gamma ', CAST(id AS INT) + 2))"
        " ELSE 'alpha beta gamma' END AS text",
    )
    postings = build_postings(docs).persist()
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(idx, "doc_id"), block_span=8192).persist()
    doc_stats = postings.groupBy("doc_id", "url").agg(F.sum("tf").alias("n_term_entries"))
    dsi = doc_stats.join(idx, "doc_id").select("doc_index", "url", "n_term_entries").persist()
    n = 35_000
    sc = spark.sparkContext
    try:
        term_stats = {
            r["term"]: (int(r["df"]), int(r["max_tf"]))
            for r in blocks.groupBy("term").agg(
                F.sum("n_docs").alias("df"), F.max("max_tf").alias("max_tf")
            ).collect()
        }
        assert sum(df for df, _mt in term_stats.values()) > 100_000
        avgdl = dsi.agg(F.avg("n_term_entries")).collect()[0][0]
        lookup = {r["doc_index"]: r["url"] for r in dsi.collect()}

        def run():
            return blocked_maxscore_topk(
                spark, "alpha beta gamma", blocks, dsi, n, k=10,
                doc_stats_agg=(avgdl, 3.0), term_stats=term_stats, url_lookup=lookup,
            ).collect()

        with low_latency(spark, shuffle_partitions=8):
            run()
            with spark_jobs(sc) as jobs:
                rows = run()
        assert jobs() == 1, jobs()
        naive = score_bm25(spark, "alpha beta gamma", postings, doc_stats, n).limit(10).collect()
        assert [lookup[d] for d, _s in rows] == [r["url"] for r in naive]
        assert [r["url"] for r in naive] == [f"http://x.com/{i:05d}.html" for i in range(9, -1, -1)]
    finally:
        for df in (postings, blocks, dsi):
            df.unpersist()


def _rewrite_without(spark, path: str, column: str, partition_by=None) -> None:
    """Rewrite the parquet table at ``path`` without ``column``."""
    _rewrite(spark, path, lambda df: df.drop(column), partition_by)


def _rewrite(spark, path: str, change, partition_by=None) -> None:
    """Rewrite the parquet table at ``path`` as ``change(table)``."""
    import shutil

    tmp = path + ".tmp"
    writer = change(spark.read.parquet(path)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)


def test_downgraded_layouts_are_refused_and_reported(spark, url_hash_shards, tmp_path):
    """One blocked layout: a save_blocked copy without its meta sidecar,
    meta's bucket count or block span, its blocks' dls array or
    term_stats' bucket column fails fsck with bad_layout, and the read
    path refuses it with a ValueError naming the missing part. A copy
    whose term_stats buckets or meta.block_span disagree with the
    blocks fails fsck's term-stats or block-shape check."""
    import re
    import shutil

    _eng, full, _paths = url_hash_shards
    downgrades = {
        "meta": lambda p: shutil.rmtree(f"{p}/meta"),
        "meta.term_buckets": lambda p: _rewrite_without(
            spark, f"{p}/meta", "term_buckets"
        ),
        "meta.block_span": lambda p: _rewrite_without(
            spark, f"{p}/meta", "block_span"
        ),
        "blocks.dls": lambda p: _rewrite_without(
            spark, f"{p}/blocks", "dls", partition_by="term_bucket"
        ),
        "term_stats.bucket": lambda p: _rewrite_without(
            spark, f"{p}/term_stats", "bucket"
        ),
    }
    eng = SearchEngine(spark)
    assert eng.fsck_blocked(full)["checks"]["bad_layout"] == 0
    try:
        for part, downgrade in downgrades.items():
            p = str(tmp_path / part)
            shutil.copytree(full, p)
            downgrade(p)
            report = eng.fsck_blocked(p)
            assert not report["ok"] and report["checks"]["bad_layout"] > 0, report
            assert part in report["missing"], report
            with pytest.raises(ValueError, match=re.escape(part)):
                eng.search_bm25_blocked(p, "spark shuffle", k=5)
        mismatches = {
            "bad_term_stats": ("term_stats", lambda df: df.withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(7))
            )),
            "bad_block_shape": ("meta", lambda df: df.withColumn(
                "block_span", F.col("block_span") * 2
            )),
        }
        for check, (sidecar, change) in mismatches.items():
            p = str(tmp_path / check)
            shutil.copytree(full, p)
            _rewrite(spark, f"{p}/{sidecar}", change)
            report = eng.fsck_blocked(p)
            assert not report["ok"] and report["checks"][check] > 0, report
    finally:
        eng.unpersist()


def test_analyzer_without_dl_gets_doc_lengths(spark, tmp_path):
    """An analyzer that emits no dl: the engine adds each doc's sum(tf),
    so postings.dl equals doc_stats.n_term_entries, and the flat, served
    and blocked BM25 paths return the same rows and scores."""
    from google_like_search_engine_spark.corpus import generate_pages

    pages = generate_pages(spark, 60).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(
        pages, run_pagerank=False, postings_fn=lambda d: build_postings(d).drop("dl")
    )
    try:
        per_doc = {
            (r["doc_id"], r["dl"])
            for r in eng.postings.select("doc_id", "dl").distinct().collect()
        }
        assert per_doc == {
            (r["doc_id"], r["n_term_entries"]) for r in eng.doc_stats.collect()
        }
        out = str(tmp_path / "blocked")
        eng.save_blocked(out)
        assert eng.enable_serving()
        query = "search engine index"
        flat = [(r["url"], r["score"]) for r in eng.search_bm25(query, k=20).collect()]
        assert flat
        for got in (
            eng.search_bm25_served(query, k=20),
            eng.search_bm25_blocked(out, query, k=20),
        ):
            got = [(r["url"], r["score"]) for r in got.collect()]
            assert [u for u, _s in got] == [u for u, _s in flat]
            for (_u, a), (_v, b) in zip(got, flat):
                assert a == pytest.approx(b, rel=1e-12)
    finally:
        eng.unpersist()
